"""Core relational operators (SURVEY.md §2.b), DataFrame-native.

Every capability the reference substrate can express as a (mapper, reducer)
pair — projection, filter, grouped aggregation, distinct, equi-join,
broadcast join, sort, top-k, set ops (SURVEY.md §2.b table) — exposed as a
declarative DataFrame query so Catalyst gets pushdown/pruning/join-selection
for free.

Scale notes (100 TB): fact-fact joins (orders ⨝ lineitem) shuffle on the
join key and benefit from AQE skew handling; dimension joins (region,
nation, and customer/supplier at low SF) are broadcast — `F.broadcast` is
applied where the dimension is bounded-size by schema design, and
autoBroadcastJoinThreshold + AQE handle the rest.  Aggregations are
partial+final hash aggs (map-side combine), so shuffle volume is #groups,
not #rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce485_spark.queries import query
from map_reduce485_spark.queries._util import T, dsum, fmt_ts, oracle_dsum, oracle_fmt_ts

# ---------------------------------------------------------------------------
# TPC-H-adapted headline queries
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
       sum_charge, count_order,
       sum_qty / count_order AS avg_qty,
       sum_base_price / count_order AS avg_price
FROM (
  SELECT l_returnflag, l_linestatus,
         {oracle_dsum('l_quantity', 'sum_qty')},
         {oracle_dsum('l_extendedprice', 'sum_base_price')},
         {oracle_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price', 6)},
         {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge', 6)},
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY l_returnflag, l_linestatus
) ORDER BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", _Q1_ORACLE, tags=("relational", "agg"), bench=True)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → hash agg (partial+final).

    The canonical grouped-aggregation workload the reference expresses as a
    sorted-reduce (SURVEY.md §2.b 'Grouped aggregation').
    """
    (li,) = T(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price", 6),
            dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge", 6),
            F.count("*").alias("count_order"),
        )
    )
    return (
        agg.withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q3_ORACLE = f"""
SELECT l_orderkey,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 6)},
       {oracle_fmt_ts('ANY_VALUE(o_orderdate)', 'orderdate')},
       ANY_VALUE(o_orderpriority) AS orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", _Q3_ORACLE, tags=("relational", "join"), bench=True)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter → 3-way join → agg → top-k.

    customer is filtered before the join (Catalyst pushes the predicate to
    the scan); the filtered customer side is broadcast-eligible.  Top-k uses
    a unique tiebreaker (l_orderkey) so the LIMIT is deterministic.
    """
    cust, orders, li = T(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = "1998-06-15"
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            dsum("l_extendedprice * (1 - l_discount)", "revenue", 6),
            fmt_ts(F.any_value("o_orderdate"), "orderdate"),
            F.any_value("o_orderpriority").alias("orderpriority"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n_name,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 6)}
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q5_local_supplier_volume", _Q5_ORACLE, tags=("relational", "join"), bench=True)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join with explicit broadcast of the fixed-size
    dimensions (region: 5 rows, nation: 25 rows at every scale factor)."""
    region, nation, cust, orders, li, supp = T(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem", "supplier"
    )
    return (
        F.broadcast(region.filter(F.col("r_name") == "ASIA"))
        .join(F.broadcast(nation), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)", "revenue", 6))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_Q6_ORACLE = f"""
SELECT {oracle_dsum('l_extendedprice * l_discount', 'revenue', 6)},
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", _Q6_ORACLE, tags=("relational", "filter"))
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style scan-dominated filter+agg — the pure predicate-pushdown
    benchmark: every predicate reaches the Parquet reader."""
    (li,) = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum("l_extendedprice * l_discount", "revenue", 6),
            F.count("*").alias("n_rows"),
        )
    )


_Q10_ORACLE = f"""
SELECT c_custkey, ANY_VALUE(c_name) AS c_name,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 6)},
       ANY_VALUE(c_acctbal) AS c_acctbal,
       ANY_VALUE(n_name) AS n_name
FROM customer
JOIN nation   ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", _Q10_ORACLE, tags=("relational", "join"))
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: who returned the most revenue (join + agg + top-k)."""
    cust, nation, orders, li = T(spark, sf_dir, "customer", "nation", "orders", "lineitem")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("c_custkey")
        .agg(
            F.any_value("c_name").alias("c_name"),
            dsum("l_extendedprice * (1 - l_discount)", "revenue", 6),
            F.any_value("c_acctbal").alias("c_acctbal"),
            F.any_value("n_name").alias("n_name"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey, {oracle_fmt_ts('o_orderdate', 'orderdate')},
       CAST(o_totalprice AS DOUBLE) AS totalprice, sum_qty
FROM (
  SELECT l_orderkey, {oracle_dsum('l_quantity', 'sum_qty')}
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(24,2))) > 180
) big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY totalprice DESC, o_orderkey
"""


@query("q18_large_volume_orders", _Q18_ORACLE, tags=("relational", "join"))
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: agg-then-join (the HAVING output is tiny, so the join
    of big-orders against orders is broadcast-eligible after AQE)."""
    cust, orders, li = T(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(24,2)")).alias("_sq"))
        .filter(F.col("_sq") > 180)
        .select("l_orderkey", F.col("_sq").cast("double").alias("sum_qty"))
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            fmt_ts("o_orderdate", "orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Primitive operators
# ---------------------------------------------------------------------------


@query(
    "filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE)
             AS net_price
    FROM lineitem WHERE l_quantity >= 48 AND l_returnflag = 'A'
    """,
    tags=("relational", "filter"),
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate — both pushed into the Parquet scan
    (reference analog: mapper-side field selection, SURVEY.md §2.b).

    net_price goes through exact DECIMAL(18,4) arithmetic, then surfaces as
    DOUBLE per the package hash-stability rule (a DECIMAL stringifies as
    '101229.1800' on one engine and '101229.18' on the other — same value,
    different hash)."""
    (li,) = T(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") >= 48) & (F.col("l_returnflag") == "A")).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))")
        .cast("double")
        .alias("net_price"),
    )


@query(
    "distinct_values",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("relational",),
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (reference analog: identity-key map + first-of-group reduce)."""
    (li,) = T(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@query(
    "sort_limit",
    """
    SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS DOUBLE) AS extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
    """,
    tags=("relational", "sort"),
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global order + limit.  Spark plans TakeOrderedAndProject — a per-
    partition top-k then a driver-side merge of k·P rows, so no global
    range-partitioned sort is materialized (the scalable plan at 100 TB)."""
    (li,) = T(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("extendedprice")
        )
        .orderBy(F.col("extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "set_ops_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("relational", "setops"),
)
def set_ops_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two keyed projections."""
    cust, supp = T(spark, sf_dir, "customer", "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .union(supp.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@query(
    "set_ops_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("relational", "setops"),
)
def set_ops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, supp = T(spark, sf_dir, "customer", "supplier")
    return cust.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supp.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "set_ops_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("relational", "setops"),
)
def set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, supp = T(spark, sf_dir, "customer", "supplier")
    return cust.select(F.col("c_nationkey").alias("nationkey")).subtract(
        supp.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "semi_join_customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("relational", "join"),
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS.  Semi joins ship only the key column of the
    probe side through the shuffle — cheaper than inner-join + distinct."""
    cust, orders = T(spark, sf_dir, "customer", "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "anti_join_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    )
    """,
    tags=("relational", "join"),
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join = NOT EXISTS (customers inactive in 2001 — the date
    scope keeps the result non-trivial on data where every customer has
    *some* order)."""
    cust, orders = T(spark, sf_dir, "customer", "orders")
    recent = orders.filter(F.col("o_orderdate") >= "2001-01-01")
    return cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "having_filter",
    """
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
    tags=("relational", "agg"),
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = T(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "broadcast_dim_join",
    """
    SELECT r_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("relational", "join"),
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact → broadcast-dim rollup: nation/region are fixed-size (25/5 rows)
    at every SF, so this is a map-side join with zero fact-table shuffle
    before the aggregation (reference analog: map-side join, SURVEY §2.b)."""
    cust, nation, region = T(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", "total_acctbal", 2, 18),
        )
    )


@query(
    "agg_stats_per_event_type",
    """
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("relational", "agg"),
)
def agg_stats_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate surface: count / distinct-count / min / max / exact sum."""
    (events,) = T(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        dsum("value", "sum_value", 2, 18),
    )


@query(
    "exists_subquery_parts",
    """
    SELECT p_partkey, p_name FROM part
    WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 49
    )
    """,
    tags=("relational", "join"),
)
def exists_subquery_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS via the SQL surface (Catalyst rewrites to semi join)."""
    from map_reduce485_spark.catalog import register_views

    register_views(spark, sf_dir, "part", "lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM part
        WHERE EXISTS (
          SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 49
        )
        """
    )


@query(
    "set_ops_bag_semantics",
    """
    WITH diff AS (
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_quantity >= 25
      EXCEPT ALL
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_discount >= 0.05
    ),
    inter AS (
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_quantity >= 25
      INTERSECT ALL
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_discount >= 0.05
    )
    SELECT 'except_all' AS op, suppkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM diff GROUP BY suppkey
    UNION ALL
    SELECT 'intersect_all' AS op, suppkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM inter GROUP BY suppkey
    """,
    tags=("relational", "setops"),
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — the BAG (multiplicity-preserving)
    set operations `set_ops_except`/`set_ops_intersect` don't cover:
    per-element counts subtract (max(m−n, 0)) and take minimums (min(m,
    n)) instead of collapsing to membership — what reconciliation jobs
    need when the NUMBER of occurrences is the signal (double-billing,
    lost deliveries).  Multiplicities re-aggregated per key so the gate
    hashes counts, not just membership.  Spark plans both as aggregate-
    and-replicate over a single shuffle key — no join at all."""
    (li,) = T(spark, sf_dir, "lineitem")
    hi_qty = li.filter(F.col("l_quantity") >= 25).select(
        F.col("l_suppkey").alias("suppkey")
    )
    hi_disc = li.filter(F.col("l_discount") >= 0.05).select(
        F.col("l_suppkey").alias("suppkey")
    )
    diff = (
        hi_qty.exceptAll(hi_disc)
        .groupBy("suppkey")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "suppkey", "n")
    )
    inter = (
        hi_qty.intersectAll(hi_disc)
        .groupBy("suppkey")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "suppkey", "n")
    )
    return diff.unionAll(inter)


@query(
    "null_safe_join",
    """
    WITH a AS (
      SELECT NULLIF(l_returnflag, 'A') AS mode_key, CAST(COUNT(*) AS BIGINT) AS n_hi_qty
      FROM lineitem WHERE l_quantity >= 25 GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(l_returnflag, 'A') AS mode_key, CAST(COUNT(*) AS BIGINT) AS n_hi_disc
      FROM lineitem WHERE l_discount >= 0.05 GROUP BY 1
    )
    SELECT a.mode_key, a.n_hi_qty, b.n_hi_disc
    FROM a JOIN b ON a.mode_key IS NOT DISTINCT FROM b.mode_key
    """,
    tags=("relational", "join"),
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`eqNullSafe` / SQL `<=>`): NULL keys MATCH
    each other instead of silently dropping — the semantics every
    reconciliation join over nullable business keys needs (a plain `=`
    would make the NULL bucket vanish from both sides with no error).
    The NULL key is manufactured deterministically (NULLIF on one
    return flag) so the gate proves the NULL row actually joins: lose it and
    the row count drops by one.  `<=>` keys still hash-partition (NULL
    hashes like any value here) — same shuffle story as `=`, unlike the
    OR-based `(a = b OR (a IS NULL AND b IS NULL))` rewrite, which
    degrades to a nested loop."""
    (li,) = T(spark, sf_dir, "lineitem")
    key = F.nullif(F.col("l_returnflag"), F.lit("A")).alias("mode_key")
    a = (
        li.filter(F.col("l_quantity") >= 25)
        .groupBy(key)
        .agg(F.count("*").alias("n_hi_qty"))
    )
    b = (
        li.filter(F.col("l_discount") >= 0.05)
        .groupBy(key)
        .agg(F.count("*").alias("n_hi_disc"))
    )
    return a.join(b, a["mode_key"].eqNullSafe(b["mode_key"])).select(
        a["mode_key"].alias("mode_key"), "n_hi_qty", "n_hi_disc"
    )


@query(
    "share_of_parent",
    """
    WITH nat AS (
      SELECT n.n_regionkey AS regionkey, n.n_nationkey AS nationkey, n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS nation_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2, 3
    ),
    reg AS (
      SELECT regionkey, CAST(SUM(nation_cents) AS BIGINT) AS region_cents
      FROM nat GROUP BY regionkey
    ),
    tot AS (SELECT CAST(SUM(region_cents) AS BIGINT) AS all_cents FROM reg)
    SELECT r.r_name AS region, nat.nation,
           nat.nation_cents / 100.0 AS nation_revenue,
           CAST(nat.nation_cents AS DOUBLE) / reg.region_cents AS share_of_region,
           CAST(reg.region_cents AS DOUBLE) / tot.all_cents AS region_share_of_total
    FROM nat JOIN reg USING (regionkey) JOIN region r ON r.r_regionkey = nat.regionkey, tot
    """,
    tags=("relational", "agg"),
)
def share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent — the drill-down ratio every BI layer
    computes (nation within region, region within total), generalizing
    `pct_of_total`'s single level to a two-level hierarchy WITHOUT a
    window over raw data: aggregate once at the leaf level, re-aggregate
    the (tiny) leaf table upward, broadcast-join the levels back.  All
    sums exact bigint cents; each share is one float division.  At 100 TB
    the only fact-sized work is the leaf aggregation — the parent and
    grand-total rollups run on |nations| rows."""
    orders, cust, nation, region = T(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    nat = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, nation.n_nationkey == cust.c_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            "n_nationkey",
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "nation_cents"
            )
        )
    )
    reg = nat.groupBy("regionkey").agg(F.sum("nation_cents").alias("region_cents"))
    tot = reg.agg(F.sum("region_cents").alias("all_cents"))
    return (
        nat.join(F.broadcast(reg), "regionkey")
        .join(
            F.broadcast(region), F.col("r_regionkey") == F.col("regionkey")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r_name").alias("region"),
            "nation",
            (F.col("nation_cents") / 100.0).alias("nation_revenue"),
            (F.col("nation_cents").cast("double") / F.col("region_cents")).alias(
                "share_of_region"
            ),
            (F.col("region_cents").cast("double") / F.col("all_cents")).alias(
                "region_share_of_total"
            ),
        )
    )
