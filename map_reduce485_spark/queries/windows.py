"""Window functions and multi-dimensional aggregates.

These are capabilities *absent* from the reference as named operators
(SURVEY.md §2 'Explicitly absent') but expressible on its substrate via
secondary sort (composite `key1\\tkey2` keys, SURVEY.md §2.b); here they are
first-class: `Window` ranking/analytic/frames, ROLLUP/CUBE/GROUPING SETS,
pivot.

Scale note: window partitions shuffle on partitionBy keys — a per-customer
or per-part partition is millions of small groups at 100 TB, which is the
good case (no single partition exceeds executor memory).  Queries with a
global ORDER BY restrict to top-k with unique tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce485_spark.queries import query
from map_reduce485_spark.queries._util import T, fmt_ts


@query(
    "window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window",),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the distributed top-k-per-group idiom
    (row_number + filter).  Unique tiebreaker (o_orderkey) → deterministic."""
    (orders,) = T(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("totalprice"), "rn")
    )


@query(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend,
           COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS order_seq
    FROM orders
    """,
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer (analytic frame).  DECIMAL accumulator →
    order-insensitive exactness; ROWS frame with a unique tiebreak →
    deterministic prefix sums."""
    (orders,) = T(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_spend"),
        F.count("*").over(w).alias("order_seq"),
    )


@query(
    "window_lag_delta",
    """
    SELECT l_partkey, l_orderkey, l_linenumber,
           CAST(l_extendedprice AS DOUBLE) AS price,
           CAST(l_extendedprice - LAG(l_extendedprice) OVER (
             PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber
           ) AS DOUBLE) AS price_delta
    FROM lineitem WHERE l_partkey < 100
    """,
    tags=("window",),
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/offset analytics: ship-to-ship price change per part."""
    (li,) = T(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return li.filter(F.col("l_partkey") < 100).select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        (F.col("l_extendedprice") - F.lag("l_extendedprice").over(w)).alias("price_delta"),
    )


@query(
    "rollup_agg",
    """
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("window", "multidim"),
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; GROUPING() disambiguates the ALL rows."""
    (li,) = T(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(20,2)")).cast("double").alias("sum_qty"),
        F.grouping("l_returnflag").alias("_g1"),
        F.grouping("l_linestatus").alias("_g2"),
    ).select(
        F.when(F.col("_g1") == 1, "ALL").otherwise(F.col("l_returnflag")).alias("returnflag"),
        F.when(F.col("_g2") == 1, "ALL").otherwise(F.col("l_linestatus")).alias("linestatus"),
        "n_rows",
        "sum_qty",
    )


@query(
    "cube_agg",
    """
    SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS etype,
           CASE WHEN GROUPING(yr) = 1 THEN -1 ELSE yr END AS year,
           COUNT(*) AS n_events
    FROM (SELECT event_type, EXTRACT(year FROM ts) AS yr FROM events)
    GROUP BY CUBE (event_type, yr)
    """,
    tags=("window", "multidim"),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, year)."""
    (events,) = T(spark, sf_dir, "events")
    base = events.select("event_type", F.year("ts").alias("yr"))
    return (
        base.cube("event_type", "yr")
        .agg(
            F.count("*").alias("n_events"),
            F.grouping("event_type").alias("_g1"),
            F.grouping("yr").alias("_g2"),
        )
        .select(
            F.when(F.col("_g1") == 1, "ALL").otherwise(F.col("event_type")).alias("etype"),
            F.when(F.col("_g2") == 1, F.lit(-1)).otherwise(F.col("yr")).cast("long").alias("year"),
            "n_events",
        )
    )


@query(
    "grouping_sets_agg",
    """
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    tags=("window", "multidim"),
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface."""
    from map_reduce485_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
               CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@query(
    "pivot_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(20,2)) END) AS DOUBLE) AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(20,2)) END) AS DOUBLE) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("window", "multidim"),
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list → single-pass agg,
    no second job to discover pivot values)."""
    (li,) = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(20,2)")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


_RANK_SUITE_ORACLE = """
SELECT c_custkey, c_nationkey,
       RANK()         OVER w AS rnk,
       DENSE_RANK()   OVER w AS drnk,
       PERCENT_RANK() OVER w AS prnk,
       CUME_DIST()    OVER w AS cdist,
       NTILE(4)       OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


@query("window_rank_suite", _RANK_SUITE_ORACLE, tags=("window",))
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function surface in one pass: rank / dense_rank /
    percent_rank / cume_dist / ntile over customers by balance within
    nation.  One shuffle on the partition key serves all five functions
    (they share the window definition); the unique c_custkey tiebreaker
    makes every output deterministic, including ntile bucket boundaries."""
    from pyspark.sql import Window as W

    (cust,) = T(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


_FRAMES_ORACLE = """
SELECT l_orderkey, l_linenumber,
       FIRST_VALUE(l_extendedprice) OVER w AS first_price,
       LAST_VALUE(l_extendedprice)  OVER w AS last_price_so_far,
       NTH_VALUE(l_extendedprice, 2) OVER w AS second_price,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
         OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
               ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) / 100.0
         AS rolling_2row_price
FROM lineitem
WHERE l_orderkey < 2000
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("window_frames", _FRAMES_ORACLE, tags=("window",))
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS-frame surface: first_value / last_value / nth_value and
    a bounded rolling sum (1 PRECEDING..CURRENT).  The rolling money sum
    uses integer cents so partial frames hash-match exactly."""
    from pyspark.sql import Window as W

    (li,) = T(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w2 = W.partitionBy("l_orderkey").orderBy("l_linenumber").rowsBetween(-1, 0)
    return li.filter(F.col("l_orderkey") < 2000).select(
        "l_orderkey",
        "l_linenumber",
        F.first("l_extendedprice").over(w).alias("first_price"),
        F.last("l_extendedprice").over(w).alias("last_price_so_far"),
        F.nth_value("l_extendedprice", 2).over(w).alias("second_price"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).over(w2) / 100.0
        ).alias("rolling_2row_price"),
    )


_UNPIVOT_ORACLE = """
SELECT o_orderkey, metric, val FROM (
  SELECT o_orderkey, 'total_price' AS metric, o_totalprice AS val FROM orders
  UNION ALL
  SELECT o_orderkey, 'order_year', CAST(EXTRACT(year FROM o_orderdate) AS DOUBLE) FROM orders
)
WHERE o_orderkey < 1000
"""


@query("unpivot_metrics", _UNPIVOT_ORACLE, tags=("multidim",))
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): each order row becomes one row per metric via
    `stack` — the inverse of pivot_agg, evaluated inline in the projection
    (constant 2x fan-out, no shuffle, no union of scans: one pass over the
    table where the oracle's UNION ALL reads it twice)."""
    (orders,) = T(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.expr(
                "stack(2, 'total_price', o_totalprice,"
                " 'order_year', CAST(year(o_orderdate) AS DOUBLE))"
                " AS (metric, val)"
            ),
        )
    )


_TIME_RANGE_ORACLE = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       COUNT(*) OVER w AS n_7d,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_7d
FROM events
WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
"""


@query("window_time_range_7d", _TIME_RANGE_ORACLE, tags=("window", "events"))
def window_time_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user rolling 7-day event count and value
    sum — the moving-metrics primitive.  RANGE frames bound by *values*
    (epoch seconds here), not row counts, so simultaneous events share a
    frame; money accumulates as integer cents so partial frames hash
    exactly.  One shuffle on user_id; frame evaluation is a per-partition
    sliding aggregate.

    Hash-parity notes: the oracle CASTs its windowed SUM back to BIGINT
    (DuckDB's SUM(BIGINT) is HUGEINT, which stringifies differently), and
    both sides frame on *integer* epoch seconds — Spark `unix_timestamp`
    (floor seconds) vs `epoch_us(ts) // 1000000` (integer floor division) —
    so RANGE boundaries agree even on sub-second timestamps."""
    from pyspark.sql import Window as W

    from map_reduce485_spark.queries._util import fmt_ts

    (events,) = T(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-604800, 0)
    )
    return events.filter(F.col("user_id") < 50).select(
        "user_id",
        "event_id",
        fmt_ts("ts", "ts"),
        F.count("*").over(w).alias("n_7d"),
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("cents_7d"),
    )


_RANK_SURFACE_ORACLE = """
SELECT s_suppkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS prank,
       CUME_DIST() OVER w AS cdist
FROM supplier
WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
"""


@query("window_rank_surface", _RANK_SURFACE_ORACLE, tags=("window",))
def window_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking-function surface in one pass: rank,
    dense_rank, ntile(4), percent_rank, cume_dist over one total order
    (acctbal desc, suppkey tiebreak — the tiebreak is what makes every
    one of these deterministic; without it ntile boundaries are
    engine-dependent).  percent_rank and cume_dist emit doubles but are
    int/int ratios of rank positions — one exact division each, so they
    hash-match.  All five share a single sort: one window frame, one
    exchange."""
    supplier, = T(spark, sf_dir, "supplier")
    w = W.orderBy(F.col("s_acctbal").desc(), "s_suppkey")
    return supplier.select(
        "s_suppkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query("window_rank_surface_distributed", _RANK_SURFACE_ORACLE, tags=("window",))
def window_rank_surface_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE twin of `window_rank_surface`: identical five ranking
    outputs (same oracle) with NO single-partition window anywhere — the
    plan that runs when the ranked table is corpus-scale, not a dimension.

    Because the ordering (acctbal DESC, suppkey) is TOTAL, every ranking
    function collapses to arithmetic over (row_number, N): rank =
    dense_rank = row_number (no ties in the full key), ntile(4) follows the
    SQL first-buckets-get-the-extra-row rule, percent_rank = (rn-1)/(N-1),
    cume_dist = rn/N.  row_number comes from `distributed_rank` (range
    partition + broadcast offsets); N is a 1-row broadcast.  All ratios are
    exact int/int divisions, so the doubles hash-match the native window
    twin and the DuckDB oracle bit-for-bit."""
    from map_reduce485_spark.queries._util import distributed_rank

    supplier, = T(spark, sf_dir, "supplier")
    rn = distributed_rank(
        supplier.select("s_suppkey", "s_acctbal"),
        [F.col("s_acctbal").desc(), F.col("s_suppkey")],
        alias="rn",
    )
    tot = supplier.agg(F.count("*").alias("n_tot"))
    # first (N mod 4) buckets hold (N div 4 + 1) rows, the rest (N div 4);
    # integer div throughout so bucket boundaries are exact at any N
    in_big = F.expr("rn <= (n_tot % 4) * (n_tot div 4 + 1)")
    quartile = F.when(
        in_big,
        F.expr("(rn + (n_tot div 4 + 1) - 1) div (n_tot div 4 + 1)"),
    ).otherwise(
        F.expr(
            "(n_tot % 4) + (rn - (n_tot % 4) * (n_tot div 4 + 1)"
            " + (n_tot div 4) - 1) div (n_tot div 4)"
        )
    )
    return rn.crossJoin(F.broadcast(tot)).select(
        "s_suppkey",
        F.col("rn").alias("rnk"),
        F.col("rn").alias("drnk"),
        quartile.cast("int").alias("quartile"),
        F.when(
            F.col("n_tot") > 1,
            (F.col("rn") - 1).cast("double") / (F.col("n_tot") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("prank"),
        (F.col("rn").cast("double") / F.col("n_tot")).alias("cdist"),
    )
