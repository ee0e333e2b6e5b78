"""Advanced operators beyond the reference's substrate: as-of / range /
salted joins, exact percentiles, subqueries, math & array function
surfaces, deterministic sampling.

These are the "Explicitly absent" capabilities from SURVEY.md §2 plus the
custom-operator examples the north star calls out (as-of join, range join),
each built as a composition of existing DataFrame ops (no UDFs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce485_spark.queries import query
from map_reduce485_spark.queries._util import (
    T,
    cache_scoped,
    distributed_prefix_sum,
    dsum,
    fmt_ts,
    oracle_dsum,
)

# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(
         (SELECT MAX(v.ts) FROM events v
          WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts),
         '%Y-%m-%d %H:%M:%S') AS last_view_ts,
       CAST(epoch_us(p.ts) - (SELECT MAX(epoch_us(v.ts)) FROM events v
          WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts)
         AS BIGINT) AS gap_us
FROM events p WHERE p.event_type = 'purchase'
"""


@query("asof_join_purchase_view", _ASOF_ORACLE, tags=("advanced", "join"))
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for every purchase, the most recent view by the same user
    at or before it.

    Implementation is the scalable sort-based form — union both sides, one
    shuffle on user_id, and a running `last(view_ts)` window — not a
    pairwise inequality join (which is quadratic per key).  Views sort
    before purchases at equal timestamps so ties resolve 'at or before'.
    The oracle states the same semantics as a correlated MAX subquery."""
    (events,) = T(spark, sf_dir, "events")
    ev = events.filter(F.col("event_type").isin("view", "purchase"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", (F.col("event_type") != "view").cast("int"), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    with_last_view = ev.withColumn(
        "_last_view_ts",
        F.last(F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True).over(w),
    )
    return with_last_view.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        fmt_ts("ts", "purchase_ts"),
        fmt_ts("_last_view_ts", "last_view_ts"),
        (F.unix_micros("ts") - F.unix_micros("_last_view_ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------

_BAND_WIDTH = 5000
_N_BANDS = 20

_RANGE_ORACLE = f"""
SELECT band_id, COUNT(*) AS n_items,
       {oracle_dsum('l_extendedprice', 'band_revenue')}
FROM lineitem
JOIN (SELECT UNNEST(generate_series(0, {_N_BANDS - 1})) AS band_id) bands
  ON l_extendedprice >= band_id * {_BAND_WIDTH}
 AND l_extendedprice <  (band_id + 1) * {_BAND_WIDTH}
GROUP BY band_id
"""


@query("range_join_price_bands", _RANGE_ORACLE, tags=("advanced", "join"))
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: facts against a banded dimension on
    lo <= x < hi.  The band table is tiny → Spark plans a broadcast
    nested-loop join, which is the right physical strategy for small range
    dimensions at any scale (for large ones: equi-join on a computed bin
    column, which this band layout makes possible by construction)."""
    (li,) = T(spark, sf_dir, "lineitem")
    bands = spark.range(_N_BANDS).select(F.col("id").cast("int").alias("band_id"))
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("band_id") * _BAND_WIDTH)
            & (F.col("l_extendedprice") < (F.col("band_id") + 1) * _BAND_WIDTH),
        )
        .groupBy("band_id")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice", "band_revenue"))
    )


# ---------------------------------------------------------------------------
# salted join (skew)
# ---------------------------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT o_orderpriority,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 6)},
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("salted_join_revenue", _SALTED_ORACLE, tags=("advanced", "join"))
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join executed through the salted-join operator
    (operators.skew): each l_orderkey spreads over 8 salts, orders
    replicated per salt — the explicit hot-key remedy when AQE's skew
    splitting isn't enough.  Result is provably the plain join (the oracle
    IS the plain join)."""
    from map_reduce485_spark.operators.skew import salted_join

    li, orders = T(spark, sf_dir, "lineitem", "orders")
    joined = salted_join(
        li.select("l_orderkey", "l_extendedprice", "l_discount", "l_linenumber"),
        orders.select("o_orderkey", "o_orderpriority"),
        "l_orderkey",
        "o_orderkey",
        n_salts=8,
        salt_from=F.col("l_linenumber"),
    )
    return joined.groupBy("o_orderpriority").agg(
        dsum("l_extendedprice * (1 - l_discount)", "revenue", 6),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# exact percentiles
# ---------------------------------------------------------------------------

_PCT_ORACLE = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


@query("percentiles_per_type", _PCT_ORACLE, tags=("advanced", "agg"))
def percentiles_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per event type.

    Exact `percentile` needs the group's values collected per key — fine
    for bounded group counts; at 100 TB with huge groups switch to
    `approx_percentile` (t-digest, mergeable sketch) — same API shape."""
    (events,) = T(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# subqueries
# ---------------------------------------------------------------------------

_SUBQ_ORACLE = """
SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS quantity
FROM lineitem
WHERE l_quantity > (
        SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) / COUNT(*) * 1.9
        FROM lineitem)
  AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0)
"""


@query("scalar_and_in_subquery", _SUBQ_ORACLE, tags=("advanced", "subquery"))
def scalar_and_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (exact-decimal global average) + IN subquery
    (Catalyst rewrites IN to a semi join).  SQL surface."""
    from map_reduce485_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS quantity
        FROM lineitem
        WHERE l_quantity > (
                SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) / COUNT(*) * 1.9
                FROM lineitem)
          AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0)
        """
    )


# ---------------------------------------------------------------------------
# function surfaces
# ---------------------------------------------------------------------------


@query(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 50000) AS abs_dev,
           -- type pins: DuckDB CEIL/FLOOR(double)→DOUBLE but Spark→BIGINT;
           -- DuckDB SIGN→TINYINT but Spark signum→DOUBLE.  Values agree,
           -- the type surface doesn't — cast to one kind on both sides.
           CAST(CEIL(l_quantity / 7) AS BIGINT) AS qty_ceil,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_floor,
           SQRT(l_extendedprice) AS price_sqrt,
           CAST(l_orderkey % 97 AS BIGINT) AS key_mod,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           GREATEST(l_quantity, 25.0) AS qty_hi,
           LEAST(l_quantity, 25.0) AS qty_lo
    FROM lineitem WHERE l_orderkey <= 200
    """,
    tags=("advanced", "functions"),
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function surface (exact + correctly-rounded ops only, so the
    oracle comparison is bit-stable: abs/ceil/floor/sqrt/mod/sign/
    greatest/least)."""
    (li,) = T(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 200).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000).alias("abs_dev"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_floor"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        (F.col("l_orderkey") % 97).cast("bigint").alias("key_mod"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
    )


@query(
    "array_funcs",
    """
    SELECT doc_id,
           len(w) AS n_words,
           list_contains(w, 'data') AS has_data,
           w[1] AS first_word,
           w[-1] AS last_word,
           list_min(w) AS min_word,
           list_max(w) AS max_word,
           array_to_string(list_sort(list_distinct(w))[1:3], '|') AS top3_sorted
    FROM (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    )
    """,
    tags=("advanced", "functions"),
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface over tokenized documents."""
    (docs,) = T(spark, sf_dir, "documents")
    w = F.expr("filter(split(text, ' '), x -> x <> '')")
    return docs.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.array_contains(w, "data").alias("has_data"),
        F.element_at(w, 1).alias("first_word"),
        F.element_at(w, -1).alias("last_word"),
        F.array_min(w).alias("min_word"),
        F.array_max(w).alias("max_word"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(w)), 1, 3), "|").alias(
            "top3_sorted"
        ),
    )


@query(
    "null_handling",
    """
    SELECT event_id,
           COALESCE(NULLIF(event_type, 'error'), 'ERR') AS type_clean,
           CASE WHEN value IS NULL THEN -1 ELSE value END AS value_filled,
           IFNULL(NULLIF(user_id, 0), -1) AS user_clean
    FROM events WHERE event_id < 1000
    """,
    tags=("advanced", "functions"),
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: coalesce / nullif / ifnull / CASE."""
    (events,) = T(spark, sf_dir, "events")
    return events.filter(F.col("event_id") < 1000).select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("ERR")).alias("type_clean"),
        F.when(F.col("value").isNull(), -1).otherwise(F.col("value")).alias("value_filled"),
        F.ifnull(F.nullif("user_id", F.lit(0)), F.lit(-1)).alias("user_clean"),
    )


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------


@query(
    "sample_hash_10pct",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19'
    """,
    tags=("advanced", "sampling"),
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by content hash — the auditable,
    re-runnable sampling a training pipeline needs (Bernoulli `rand()`
    samples are neither reproducible across runs nor engines).  First md5
    byte <= 0x19 ⇒ 26/256 ≈ 10.2% expected."""
    (docs,) = T(spark, sf_dir, "documents")
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= "19"
    ).select("doc_id", "lang", "n_chars")


def sketch_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates per event type: HyperLogLog++
    distinct users (`approx_count_distinct`, rsd=1%) and t-digest-style
    value percentiles (`percentile_approx`).

    At 100 TB these replace their exact twins wherever tolerance allows:
    HLL state is ~KB per group vs a distinct-shuffle of every user id, and
    the sketches merge associatively in partial aggregation, so the shuffle
    carries fixed-size state regardless of row count.

    Deliberately NOT in the query registry (round-3 verdict item 3): DuckDB's
    approx sketches are algorithm-different by design, so no oracle can
    exist, and the driver has no rows-only path — a registry entry burns a
    gate slot every round for a guaranteed `err`.  Accuracy is pinned in
    `tests/test_queries.py` against the exact values (±2% / containment);
    `percentiles_per_type` is the exact-oracle twin in the registry."""
    (events,) = T(spark, sf_dir, "events")
    # percentiles projected to scalar p50/p95/p99 (one shared t-digest,
    # sliced post-agg) — no array type on the result surface, so the
    # driver's rows-only canonicalizer can sort and hash the frame
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("_pcts"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            "approx_users",
            F.col("_pcts")[0].alias("p50"),
            F.col("_pcts")[1].alias("p95"),
            F.col("_pcts")[2].alias("p99"),
            "n_events",
        )
    )


_FUZZY_ORACLE = """
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       a.p_name AS a_name, b.p_name AS b_name,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


@query("fuzzy_join_part_names", _FUZZY_ORACLE, tags=("join", "text"))
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join — the entity-resolution primitive.

    Candidates are pruned *before* the expensive distance: pairs must share
    a first character and have lengths within 2 (a length difference > k
    already implies edit distance > k, so the filter is lossless for k=2).
    At 100 TB the same pattern runs as an equi-join on the (first-char,
    length-bucket) blocking key; here Catalyst evaluates the cheap
    conjuncts first and only survivors pay the levenshtein."""
    (part,) = T(spark, sf_dir, "part")
    a = part.select(F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name"))
    b = part.select(F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name"))
    return (
        a.join(
            b,
            (F.col("a_key") < F.col("b_key"))
            & (F.substring("a_name", 1, 1) == F.substring("b_name", 1, 1))
            & (
                F.abs(F.length("a_name") - F.length("b_name")) <= 2
            ),
        )
        .withColumn("edit_dist", F.levenshtein("a_name", "b_name"))
        .filter(F.col("edit_dist") <= 2)
        .select("a_key", "b_key", "a_name", "b_name", "edit_dist")
    )


_STRATIFIED_ORACLE = """
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
WHERE rn <= CAST(ceil(n * 0.1) AS BIGINT)
"""


@query("stratified_sample_10pct", _STRATIFIED_ORACLE, tags=("sampling",))
def stratified_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly ceil(10%) of every lang
    stratum, chosen by md5-of-key order (a seedless, engine-agnostic
    shuffle).  The per-stratum guarantee is what `df.sample` can't give —
    rare strata survive.  One window shuffle on the stratum key."""
    from pyspark.sql import Window as W

    (docs,) = T(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    wn = W.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("n") * 0.1).cast("long"))
        .select("doc_id", "lang", "source")
    )



# ---------------------------------------------------------------------------
# ETL/CDC primitives
# ---------------------------------------------------------------------------

_CDC_LATEST_ORACLE = """
SELECT user_id, event_id AS last_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_type, value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@query("cdc_latest_state", _CDC_LATEST_ORACLE, tags=("etl",))
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction: latest record per key — the materialization
    step of every CDC pipeline (and the batch twin of streaming
    `dropDuplicates`-by-latest).  One window shuffle on the key; ties on ts
    broken by event_id so the survivor is deterministic."""
    from pyspark.sql import Window as W

    from map_reduce485_spark.queries._util import fmt_ts

    (events,) = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            fmt_ts("ts", "last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


_CDC_MERGE_ORACLE = """
WITH changes AS (
  SELECT c_custkey AS key,
         CASE WHEN c_custkey % 11 = 0 THEN 'D'
              WHEN c_custkey % 7 = 0 THEN 'U' END AS op,
         c_acctbal + 1000.0 AS new_acctbal
  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
),
inserts AS (
  SELECT s_suppkey + 1000000 AS key, 'I' AS op, s_acctbal AS new_acctbal
  FROM supplier
)
SELECT key AS c_custkey,
       COALESCE(new_acctbal, c_acctbal) AS c_acctbal,
       op AS applied_op
FROM (
  SELECT COALESCE(ch.key, c_custkey) AS key, ch.op, ch.new_acctbal, c.c_acctbal
  FROM customer c
  FULL OUTER JOIN (SELECT * FROM changes UNION ALL SELECT * FROM inserts) ch
    ON ch.key = c.c_custkey
)
WHERE op IS DISTINCT FROM 'D'
"""


@query("cdc_upsert_merge", _CDC_MERGE_ORACLE, tags=("etl",))
def cdc_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics on plain tables: apply a deterministic change batch
    (updates: custkey%7, deletes: custkey%11, inserts: supplier-derived new
    keys) to the customer snapshot via one full-outer join —
    insert/update/delete in a single shuffle, the lakehouse MERGE dataflow
    without a table format.  At 100 TB the join shuffles on the merge key
    and AQE handles change-batch vs snapshot size asymmetry (a small batch
    broadcasts)."""
    cust, supp = T(spark, sf_dir, "customer", "supplier")
    updates = (
        cust.filter((F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 11 == 0))
        .select(
            F.col("c_custkey").alias("key"),
            F.when(F.col("c_custkey") % 11 == 0, "D")
            .when(F.col("c_custkey") % 7 == 0, "U")
            .alias("op"),
            (F.col("c_acctbal") + 1000.0).alias("new_acctbal"),
        )
    )
    inserts = supp.select(
        (F.col("s_suppkey") + 1000000).alias("key"),
        F.lit("I").alias("op"),
        F.col("s_acctbal").alias("new_acctbal"),
    )
    changes = updates.unionAll(inserts)
    merged = cust.join(changes, F.col("c_custkey") == F.col("key"), "full_outer")
    return (
        merged.select(
            F.coalesce(F.col("key"), F.col("c_custkey")).alias("c_custkey_m"),
            F.coalesce(F.col("new_acctbal"), F.col("c_acctbal")).alias("c_acctbal_m"),
            F.col("op"),
        )
        .filter(~F.col("op").eqNullSafe("D"))
        .select(
            F.col("c_custkey_m").alias("c_custkey"),
            F.col("c_acctbal_m").alias("c_acctbal"),
            F.col("op").alias("applied_op"),
        )
    )


_DQ_ORACLE = """
SELECT 'customer_null_acctbal' AS check_name,
       (SELECT COUNT(*) FROM customer WHERE c_acctbal IS NULL) AS n_bad
UNION ALL
SELECT 'orders_orphan_custkey',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_nonpositive_qty',
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
UNION ALL
SELECT 'lineitem_discount_range',
       (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
UNION ALL
SELECT 'orders_future_dates',
       (SELECT COUNT(*) FROM orders WHERE o_orderdate > TIMESTAMP '2002-01-01 00:00:00')
"""


@query("data_quality_report", _DQ_ORACLE, tags=("etl",))
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite in one job: null checks, referential
    integrity (orphan FKs via anti join), range constraints, freshness.
    Each check is an independent scan+agg; Spark runs them as one unioned
    plan.  The dbt-test / Great-Expectations primitive, engine-native."""
    cust, orders, li = T(spark, sf_dir, "customer", "orders", "lineitem")

    def one(name: str, df) -> DataFrame:
        return df.agg(F.count("*").alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = [
        one("customer_null_acctbal", cust.filter(F.col("c_acctbal").isNull())),
        one(
            "orders_orphan_custkey",
            orders.join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_anti"),
        ),
        one("lineitem_nonpositive_qty", li.filter(F.col("l_quantity") <= 0)),
        one(
            "lineitem_discount_range",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
        one("orders_future_dates", orders.filter(F.col("o_orderdate") > "2002-01-01")),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


_HIST_ORACLE = """
SELECT bucket, CAST(bucket * 50000.0 AS DOUBLE) AS lo,
       CAST((bucket + 1) * 50000.0 AS DOUBLE) AS hi, COUNT(*) AS n
FROM (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bucket
  FROM orders
)
GROUP BY bucket
"""


@query("value_histogram", _HIST_ORACLE, tags=("etl",))
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (last bucket open-ended) —
    integer bucket arithmetic, one partial+final agg; the profiling
    primitive behind every data-distribution dashboard."""
    (orders,) = T(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000).cast("long"), F.lit(9))
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 50000.0).alias("lo"),
            ((F.col("bucket") + 1) * 50000.0).alias("hi"),
            "n",
        )
    )


_PCT_ORACLE = """
WITH rev AS (
  SELECT n_name,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name
)
SELECT n_name, cents / 100.0 AS revenue,
       CAST(cents AS DOUBLE)
         / CAST(CAST(SUM(cents) OVER () AS BIGINT) AS DOUBLE) AS revenue_share
FROM rev
"""


@query("pct_of_total", _PCT_ORACLE, tags=("etl", "window"),)
def pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): revenue share per nation.  The
    global window runs AFTER reduction to 25 rows — the empty-frame window
    that would single-partition a fact table is fine over an aggregate
    (pattern: reduce first, window the reduction)."""
    from pyspark.sql import Window as W

    orders, cust, nation = T(spark, sf_dir, "orders", "customer", "nation")
    rev = (
        orders.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    # the share divides EXACT integer cents by the EXACT integer window
    # total — a double window-sum over the 25 nation rows is order-
    # dependent in its last ulp (caught by the sf0.001 gate: Spark's
    # window accumulation order differs from DuckDB's), while the long
    # sum is associative and the single final division is one IEEE op
    return rev.select(
        "n_name",
        (F.col("cents") / 100.0).alias("revenue"),
        (
            F.col("cents").cast("double")
            / F.sum("cents").over(W.partitionBy()).cast("double")
        ).alias("revenue_share"),
    )


_LATERAL_ORACLE = """
SELECT n.n_name, s.s_name, s.s_acctbal
FROM nation n,
LATERAL (SELECT s_name, s_acctbal FROM supplier
         WHERE s_nationkey = n.n_nationkey
         ORDER BY s_acctbal DESC, s_name LIMIT 2) s
"""


@query("lateral_topn_per_key", _LATERAL_ORACLE, tags=("advanced", "subquery"))
def lateral_topn_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT — the
    SQL-standard way to ask "top 2 suppliers for each nation" without a
    window function, run verbatim on both engines.  Catalyst decorrelates
    the lateral into a join + per-key limit (the same physical shape the
    `window_topk_per_group` twin pins), so the surface differs but the
    scale story is identical: one shuffle on the correlation key."""
    from map_reduce485_spark.catalog import register_views

    register_views(spark, sf_dir, "nation", "supplier")
    return spark.sql(_LATERAL_ORACLE)


@query(
    "weighted_sample_by_quality",
    """
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             CAST(LEAST(n_chars, 400) AS DOUBLE) / 400.0 AS keep_p,
             CAST(
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               AS DOUBLE) / 4294967296.0 AS u
      FROM documents
    )
    SELECT doc_id, lang, n_chars, keep_p FROM scored WHERE u < keep_p
    """,
    tags=("advanced", "sampling"),
)
def weighted_sample_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with PER-ROW keep probability — the curation
    primitive behind quality-weighted corpus selection (keep long/high-
    quality documents with higher probability), made deterministic and
    auditable: u = first 4 md5 bytes of the doc id as a uniform [0,1),
    keep iff u < p(doc).  Same decision on every engine and every rerun —
    `rand() < p` is neither.  Here p ∝ min(n_chars, 400)/400, a stand-in
    for any quality score already in the registry (`quality_score`).
    Pure map-side filter: zero shuffle at any corpus size."""
    (docs,) = T(spark, sf_dir, "documents")
    keep_p = F.least(F.col("n_chars"), F.lit(400)).cast("double") / 400.0
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        docs.select("doc_id", "lang", "n_chars", keep_p.alias("keep_p"), u.alias("u"))
        .filter(F.col("u") < F.col("keep_p"))
        .select("doc_id", "lang", "n_chars", "keep_p")
    )


_EXACT_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
),
agg AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(q) AS DOUBLE) AS sx, CAST(SUM(p) AS DOUBLE) AS sy,
         CAST(SUM(q * q) AS DOUBLE) AS sxx, CAST(SUM(p * p) AS DOUBLE) AS syy,
         CAST(SUM(q * p) AS DOUBLE) AS sxy
  FROM m GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (n * sxy - sx * sy) / (n * CAST(n AS DOUBLE)) / 10000.0 AS cov_pop,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
FROM agg
"""


@query("exact_corr_stats", _EXACT_CORR_ORACLE, tags=("advanced", "agg"))
def exact_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and population covariance of (quantity, price)
    per return flag — computed EXACTLY in a distributed setting, which
    builtin `corr`/`covar_pop` cannot promise: their running float moments
    depend on partial-aggregation order, so two runs (or two engines) can
    disagree in low bits.  Here every moment (Σx, Σy, Σx², Σy², Σxy) is an
    exact integer-cent sum — associative, order-independent, combinable
    map-side like every `dsum` — and the textbook moment formulas run once
    per GROUP on scalar doubles, each operation correctly rounded and
    identical on both engines.  The dsum discipline, generalized to second
    moments; at 100 TB the shuffle still carries five longs per group."""
    (li,) = T(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity") * 100).cast("long")
    p = F.round(F.col("l_extendedprice") * 100).cast("long")
    agg = (
        li.select("l_returnflag", q.alias("q"), p.alias("p"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            # second moments overflow a long sum at scale (p^2 ~ 1e14 x 6e5
            # rows > 2^63 already at sf0.1) — sum in decimal(38,0), still
            # exact/associative, then one rounding to double per group
            F.sum(F.col("q").cast("decimal(38,0)")).cast("double").alias("sx"),
            F.sum(F.col("p").cast("decimal(38,0)")).cast("double").alias("sy"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).cast("double").alias("sxx"),
            F.sum((F.col("p") * F.col("p")).cast("decimal(38,0)")).cast("double").alias("syy"),
            F.sum((F.col("q") * F.col("p")).cast("decimal(38,0)")).cast("double").alias("sxy"),
        )
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "l_returnflag",
        "n",
        (num / (n * n.cast("double")) / 10000.0).alias("cov_pop"),
        (
            num
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("corr"),
    )


_SKEW_REPORT_ORACLE = """
WITH per_key AS (
  SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY l_orderkey
),
stats AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_key_rows
  FROM per_key
)
SELECT n_rows, n_keys, max_key_rows,
       CAST(n_rows AS DOUBLE) / n_keys AS avg_rows_per_key,
       CAST(max_key_rows AS DOUBLE) / n_rows AS top_key_share,
       (SELECT COUNT(*) FROM per_key, stats
        WHERE c > 2.0 * (CAST(n_rows AS DOUBLE) / n_keys)) AS n_hot_keys
FROM stats
"""


@query("key_skew_report", _SKEW_REPORT_ORACLE, tags=("advanced", "etl"))
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for the fact table's shuffle key: row and
    key counts, the heaviest key's row count and share, and how many keys
    exceed 2x the mean — the numbers that decide whether a join needs
    salting (`salted_join_revenue`) or AQE skew splitting before it runs.
    Two cheap aggregations (per-key counts -> scalar stats); every ratio
    is an int/int division in double, exact on both engines."""
    (li,) = T(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count("*").alias("c"))
    stats = per_key.agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_key_rows"),
    )
    hot = (
        per_key.join(F.broadcast(stats))
        .filter(
            F.col("c")
            > 2.0 * (F.col("n_rows").cast("double") / F.col("n_keys"))
        )
        .agg(F.count("*").alias("n_hot_keys"))
    )
    return stats.join(F.broadcast(hot)).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        (F.col("n_rows").cast("double") / F.col("n_keys")).alias("avg_rows_per_key"),
        (F.col("max_key_rows").cast("double") / F.col("n_rows")).alias("top_key_share"),
        "n_hot_keys",
    )


_ZSCORE_ORACLE = """
WITH m AS (
  SELECT event_id, event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
stats AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(v) AS DOUBLE) AS s1,
         CAST(SUM(v * v) AS DOUBLE) AS s2
  FROM m GROUP BY event_type
)
SELECT m.event_id, m.event_type,
       (m.v - s.s1 / s.n)
         / sqrt((s.n * s.s2 - s.s1 * s.s1) / (s.n * CAST(s.n AS DOUBLE)))
         AS zscore
FROM m JOIN stats s ON s.event_type = m.event_type
"""


@query("zscore_normalize_per_type", _ZSCORE_ORACLE, tags=("advanced", "agg"))
def zscore_normalize_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score normalization — the feature-engineering staple —
    with HASH-STABLE float output: group mean/variance come from the same
    exact integer moments as `exact_corr_stats` (not running float aggs),
    the per-group scalars broadcast back, and each row's
    (v - mean) / stddev is the identical sequence of correctly-rounded
    IEEE ops on both engines.  One groupBy + one broadcast join; the big
    side is touched twice but never re-shuffled by the join."""
    (events,) = T(spark, sf_dir, "events")
    m = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    stats = m.groupBy(F.col("event_type").alias("et")).agg(
        F.count("*").alias("n"),
        F.sum("v").cast("double").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return (
        m.join(F.broadcast(stats), m.event_type == F.col("et"))
        .select(
            "event_id",
            "event_type",
            (
                (F.col("v") - s1 / n)
                / F.sqrt((n * s2 - s1 * s1) / (n * n.cast("double")))
            ).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# stratified exact-quota sampling
# ---------------------------------------------------------------------------

_STRAT_K = 100

_STRAT_ORACLE = f"""
WITH ranked AS (
  SELECT event_id, event_type, ts, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS rn
  FROM events
)
SELECT event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
FROM ranked WHERE rn <= {_STRAT_K}
"""


@query("stratified_sample_exact", _STRAT_ORACLE, tags=("etl", "sampling"))
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with EXACT per-stratum quotas: precisely
    {_STRAT_K} events per event_type, chosen by md5 rank so the sample is
    reproducible across engines and reruns and stable under corpus
    APPENDS up to quota pressure (a new row displaces at most one ranked
    row — no reshuffling of the whole sample the way fraction-based
    `sample()` does).  Complements `weighted_sample_by_quality`: that one
    gives probabilistic per-row keep decisions with zero coordination,
    this one exact quotas at the cost of a per-stratum rank.

    Scale note: ROW_NUMBER partitions by a LOW-cardinality stratum key, so
    each stratum ranks on one task.  For quotas over huge strata, the
    production two-pass variant first estimates the stratum's k-th
    smallest md5 (sample + interpolate), keeps rows below the threshold
    map-side, and exact-trims only the boundary — same output, fully
    parallel; at the tested strata (hundreds of thousands of rows per
    type at sf1) single-task ranking is still the cheaper plan."""
    (events,) = T(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        events.select(
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
            fmt_ts("ts", "ts_s"),
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        .filter(F.col("rn") <= _STRAT_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# data-quality audit
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
SELECT 'orders_rows' AS metric, (SELECT COUNT(*) FROM orders) AS value
UNION ALL SELECT 'orders_orphan_custkey',
  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
   WHERE c.c_custkey IS NULL)
UNION ALL SELECT 'orders_dup_orderkey',
  (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey
                         HAVING COUNT(*) > 1))
UNION ALL SELECT 'lineitem_rows', (SELECT COUNT(*) FROM lineitem)
UNION ALL SELECT 'lineitem_orphan_orderkey',
  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
   WHERE o.o_orderkey IS NULL)
UNION ALL SELECT 'lineitem_qty_out_of_range',
  (SELECT COUNT(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50)
UNION ALL SELECT 'lineitem_negative_price',
  (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0)
UNION ALL SELECT 'customer_null_name',
  (SELECT COUNT(*) FROM customer WHERE c_name IS NULL)
UNION ALL SELECT 'customer_rows', (SELECT COUNT(*) FROM customer)
"""


@query("data_quality_audit", _DQ_ORACLE, tags=("etl", "agg"))
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report — the pipeline admission gate a 100 TB
    ingest runs before data reaches training: row counts, referential
    orphans (orders→customer, lineitem→orders via broadcast anti-joins),
    primary-key duplicate groups, range violations, null checks, one
    (metric, value) row each.  All-zero violation rows are the assertion;
    nonzero row counts prove the audit actually scanned.

    Each anti-join broadcasts the dimension's key column only; the range
    and null checks are map-side conditional counts that share one scan
    per table via a single aggregate projection."""
    orders, customer, lineitem = T(spark, sf_dir, "orders", "customer", "lineitem")

    def one(metric: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(metric).alias("metric"), F.col("v").alias("value"))

    orders_agg = orders.agg(F.count("*").alias("v"))
    orphan_cust = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count("*").alias("v"))
    )
    dup_ok = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count("*").alias("v"))
    )
    li_counts = lineitem.agg(
        F.count("*").alias("rows"),
        F.sum(((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")).alias("qty_bad"),
        F.sum((F.col("l_extendedprice") < 0).cast("long")).alias("neg_price"),
    )
    li_counts = cache_scoped(li_counts)
    li_orphan = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count("*").alias("v"))
    )
    cust_counts = customer.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("c_name").isNull().cast("long")).alias("null_name"),
    )
    cust_counts = cache_scoped(cust_counts)
    parts = [
        one("orders_rows", orders_agg),
        one("orders_orphan_custkey", orphan_cust),
        one("orders_dup_orderkey", dup_ok),
        one("lineitem_rows", li_counts.select(F.col("rows").alias("v"))),
        one("lineitem_orphan_orderkey", li_orphan),
        one("lineitem_qty_out_of_range", li_counts.select(F.col("qty_bad").alias("v"))),
        one("lineitem_negative_price", li_counts.select(F.col("neg_price").alias("v"))),
        one("customer_null_name", cust_counts.select(F.col("null_name").alias("v"))),
        one("customer_rows", cust_counts.select(F.col("rows").alias("v"))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# chi-square independence test (exact cell arithmetic, sequential-fold total)
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type, isodow(ts) AS weekday, COUNT(*) AS o
  FROM events GROUP BY event_type, isodow(ts)
),
rt AS (SELECT event_type, SUM(o) AS r FROM cells GROUP BY event_type),
ct AS (SELECT weekday, SUM(o) AS c FROM cells GROUP BY weekday),
n AS (SELECT SUM(o) AS n FROM cells),
contrib AS (
  SELECT cells.event_type, cells.weekday, cells.o,
         CAST(CAST(cells.o * n.n - rt.r * ct.c AS HUGEINT)
              * CAST(cells.o * n.n - rt.r * ct.c AS HUGEINT) AS DOUBLE)
           / CAST(n.n * rt.r * ct.c AS DOUBLE) AS x
  FROM cells JOIN rt ON rt.event_type = cells.event_type
             JOIN ct ON ct.weekday = cells.weekday
             CROSS JOIN n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT weekday) - 1)
            AS BIGINT) AS dof,
       list_reduce(list(x ORDER BY event_type, weekday), (a, b) -> a + b)
         AS chi2
FROM contrib
"""


@query("chi_square_independence", _CHI2_ORACLE, tags=("advanced", "agg"))
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of event_type × ISO weekday —
    distributed hypothesis testing with every number value-checked.  Two
    determinism moves: (1) each cell's (O-E)^2/E is restated over INTEGER
    moments — (o*N - r*c)^2 / (N*r*c), numerator squared in 128-bit
    (decimal38 / hugeint, up to ~10^23), so the only float op per cell is
    one correctly-rounded division; (2) the statistic sums those cell
    doubles in a SORTED SEQUENTIAL FOLD ((event_type, weekday) order) on
    both engines — the same left-fold trick the similarity module uses —
    because a parallel SUM(double) would depend on partial-agg order.

    The row/col totals and N are tiny aggregates broadcast back onto the
    cells; the whole test costs one scan plus exchanges of ~|types|×7
    rows.  (`exact_corr_stats` is the continuous-variable sibling.)"""
    (events,) = T(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", (F.expr("weekday(ts)") + 1).alias("weekday")
    ).agg(F.count("*").alias("o"))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("weekday").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    contrib = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "weekday")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "weekday",
            (
                F.expr(
                    "CAST(CAST(o * n - r * c AS DECIMAL(19,0))"
                    " * CAST(o * n - r * c AS DECIMAL(19,0)) AS DOUBLE)"
                )
                / F.expr("CAST(n * r * c AS DOUBLE)")
            ).alias("x"),
        )
    )
    return contrib.agg(
        F.count("*").alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("weekday") - 1)
        ).cast("long").alias("dof"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(event_type,"
            " weekday, x))), s -> s.x), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# market-basket association lift
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
n AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM baskets),
item_n AS (SELECT item, COUNT(*) AS cnt FROM baskets GROUP BY item),
pair_n AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_both
  FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
  GROUP BY a.item, b.item
)
SELECT p.item_a, p.item_b, p.n_both,
       CAST(p.n_both * n.n_baskets AS DOUBLE)
         / CAST(ia.cnt * ib.cnt AS DOUBLE) AS lift
FROM pair_n p
JOIN item_n ia ON ia.item = p.item_a
JOIN item_n ib ON ib.item = p.item_b
CROSS JOIN n
WHERE p.n_both >= 5
"""


@query("basket_brand_lift", _LIFT_ORACLE, tags=("advanced", "agg"))
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: LIFT of brand co-purchase within
    an order — support(a,b)·N / (support(a)·support(b)), the classic
    recommender statistic, as exact integer ratios in one double
    division (no log-based PMI, which would hit non-correctly-rounded
    libm differences across engines).

    Shape: distinct (basket, item) pairs self-join ON the basket key —
    the fan-out is items-per-basket squared (~7² here, bounded by order
    size), shuffled on the basket key once; item totals and the basket
    count are tiny broadcast sides.  Support floor n_both >= 5 keeps the
    output the statistically meaningful pairs."""
    li, part = T(spark, sf_dir, "lineitem", "part")
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n = baskets.agg(F.countDistinct("basket").alias("n_baskets"))
    item_n = baskets.groupBy("item").agg(F.count("*").alias("cnt"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair_n = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    ia = item_n.alias("ia")
    ib = item_n.alias("ib")
    return (
        pair_n.join(F.broadcast(ia), F.col("item_a") == F.col("ia.item"))
        .join(F.broadcast(ib), F.col("item_b") == F.col("ib.item"))
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "n_both",
            (
                (F.col("n_both") * F.col("n_baskets")).cast("double")
                / (F.col("ia.cnt") * F.col("ib.cnt")).cast("double")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# recursive CTE: hierarchical subtree rollup (same SQL text on both engines)
# ---------------------------------------------------------------------------

_RCTE_SQL = """
WITH RECURSIVE walk(node, cents) AS (
  SELECT s_suppkey AS node, CAST(ROUND(s_acctbal * 100) AS BIGINT) AS cents
  FROM supplier
  UNION ALL
  SELECT CAST(FLOOR(node / 2.0) AS BIGINT), cents FROM walk WHERE node > 1
)
SELECT node, COUNT(*) AS n_contribs, CAST(SUM(cents) AS BIGINT) AS subtree_cents
FROM walk GROUP BY node
"""


@query("recursive_subtree_rollup", _RCTE_SQL, tags=("advanced", "subquery"))
def recursive_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE on the Spark side too (new in Spark 4): every
    supplier's balance propagates up an implicit binary tree (parent =
    node div 2, floor() so both engines truncate identically — a bare
    CAST of the double division would ROUND in DuckDB and TRUNCATE in
    Spark), then one GROUP BY turns the walk into per-node SUBTREE
    totals — the BOM-explosion / org-rollup shape.  The oracle is the
    IDENTICAL SQL text: the strongest SQL-surface parity statement in
    the registry (`dedup_clusters` runs recursion only oracle-side).

    Scale: each recursion step is a self-union join bounded by the
    previous frontier; depth is log2(max key) ~ 14-24 — the iterative
    plan Spark executes is the same loop `pagerank_trade_graph` writes
    by hand, here fully declarative."""
    T(spark, sf_dir, "supplier")[0].createOrReplaceTempView("supplier")
    return spark.sql(_RCTE_SQL)


# ---------------------------------------------------------------------------
# winsorized robust statistics (explicit integer order-statistic bounds)
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH ranked AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(ROUND(value * 100) AS BIGINT), event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type,
         MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN cents END) AS lo,
         MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS hi
  FROM ranked GROUP BY event_type
)
SELECT r.event_type, b.lo AS p05_cents, b.hi AS p95_cents,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN r.cents < b.lo THEN b.lo
                     WHEN r.cents > b.hi THEN b.hi
                     ELSE r.cents END) AS DOUBLE) / COUNT(*) / 100.0
         AS winsorized_mean
FROM ranked r JOIN bounds b ON b.event_type = r.event_type
GROUP BY r.event_type, b.lo, b.hi
"""


@query("winsorized_stats_per_type", _WINSOR_ORACLE, tags=("advanced", "agg"))
def winsorized_stats_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) mean per event type — the robust
    statistic a quality pipeline uses when raw means are hostage to tail
    junk.  The p05/p95 bounds are EXPLICIT order statistics at ranks
    ceil(0.05 n) / ceil(0.95 n) computed in integer arithmetic
    ((n*5+99) div 100) — NOT the engines' percentile functions, whose
    index-rounding conventions differ (`percentiles_per_type` papers
    over that with ROUND(6); a clamp threshold cannot, because one ulp
    of difference moves whole rows between clamped and unclamped).
    Values clamp in integer cents, so the mean is an exact bigint sum
    with two scalar float divisions.

    One shuffle on event_type serves the rank window, the bounds
    aggregate, and the clamped mean (co-partitioned join back)."""
    (events,) = T(spark, sf_dir, "events")
    ranked = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).select(
        "event_type",
        "cents",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("cents", "event_id"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n * 5 + 99) div 100"), F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("(n * 95 + 99) div 100"), F.col("cents"))).alias("hi"),
    )
    clamped = ranked.join(bounds, "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.when(F.col("cents") < F.col("lo"), F.col("lo"))
        .when(F.col("cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("cents"))
        .alias("w"),
    )
    return clamped.groupBy("event_type", "lo", "hi").agg(
        F.count("*").alias("n"),
        (F.sum("w").cast("double") / F.count("*") / 100.0).alias("winsorized_mean"),
    ).select(
        "event_type",
        F.col("lo").alias("p05_cents"),
        F.col("hi").alias("p95_cents"),
        "n",
        "winsorized_mean",
    )


_AB_TEST_ORACLE = """
WITH cells AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_orderpriority = '1-URGENT' AS BIGINT)) AS BIGINT) AS k
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1999)
  GROUP BY 1
),
ab AS (
  SELECT MAX(CASE WHEN yr = 1995 THEN n END) AS n1,
         MAX(CASE WHEN yr = 1995 THEN k END) AS k1,
         MAX(CASE WHEN yr = 1999 THEN n END) AS n2,
         MAX(CASE WHEN yr = 1999 THEN k END) AS k2
  FROM cells
)
SELECT n1, k1, n2, k2,
       CAST(k1 AS DOUBLE) / n1 AS p1,
       CAST(k2 AS DOUBLE) / n2 AS p2,
       (CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
         / sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                * (1e0 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                * (1e0 / n1 + 1e0 / n2)) AS z
FROM ab
"""


@query("ab_test_two_proportion", _AB_TEST_ORACLE, tags=("stats",))
def ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled), the experimentation-platform
    primitive beside `chi_square_independence`: is the urgent-order rate
    in 1995 different from 1999?  The contingency cells are exact BIGINT
    counts from one scan; the z statistic is a fixed sequence of
    correctly-rounded IEEE ops (divisions, one sqrt) over those integers
    with IDENTICAL parenthesization on both engines, so the double itself
    hash-matches — no sorted-fold needed because nothing float is ever
    aggregated, only derived per-row at the very end.

    Scale: the expensive part is the count aggregation (map-side partial,
    two groups); the statistic is O(1) driver-free arithmetic."""
    (orders,) = T(spark, sf_dir, "orders")
    cells = (
        orders.filter(F.year("o_orderdate").isin(1995, 1999))
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias("k"),
        )
    )
    ab = cells.agg(
        F.max(F.when(F.col("yr") == 1995, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("yr") == 1995, F.col("k"))).alias("k1"),
        F.max(F.when(F.col("yr") == 1999, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("yr") == 1999, F.col("k"))).alias("k2"),
    )
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    pool = (F.col("k1") + F.col("k2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return ab.select(
        "n1", "k1", "n2", "k2", p1.alias("p1"), p2.alias("p2"), z.alias("z")
    )


_SKYLINE_ORACLE = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


@query("skyline_price_size", _SKYLINE_ORACLE, tags=("advanced",))
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on (cheaper
    price, larger size).  The oracle states the textbook quadratic NOT
    EXISTS; the Spark plan is the O(n log n) sweep that survives scale —
    dominance against ALL rows collapses to two window passes:

    1. within an equal-price group only the max size can be on the
       frontier (same price, bigger size dominates);
    2. over distinct prices ascending, a row survives iff its group-max
       size exceeds the running max over all STRICTLY cheaper prices
       (ROWS frame on the distinct-price table = strict dominance).

    Equal (price, size) pairs don't dominate each other (no strict
    coordinate), so whole tied groups survive together — both engines
    agree exactly because every comparison is on raw column values.
    Scale: one groupBy + one DISTRIBUTED prefix-max scan over |distinct
    prices| (`distributed_prefix_max`: range partition + per-range-slice
    running max + broadcast over-partition prefix — no single-partition
    window) + one semi-join back; nothing quadratic anywhere."""
    from map_reduce485_spark.queries._util import distributed_prefix_max

    (part,) = T(spark, sf_dir, "part")
    grp = part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    frontier = distributed_prefix_max(
        grp, ["p_retailprice"], "gmax", "rmax"
    ).filter(F.col("rmax").isNull() | (F.col("rmax") < F.col("gmax")))
    return part.join(
        frontier.select(
            F.col("p_retailprice").alias("fp"), F.col("gmax").alias("fs")
        ),
        (F.col("p_retailprice") == F.col("fp")) & (F.col("p_size") == F.col("fs")),
        "left_semi",
    ).select("p_partkey", "p_retailprice", "p_size")


_PCTBIN_B = 4096
_PCTBIN_ORACLE = f"""
WITH stats AS (
  SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx,
         CAST(COUNT(*) AS BIGINT) AS n,
         (MAX(l_extendedprice) - MIN(l_extendedprice)) / {_PCTBIN_B} AS width
  FROM lineitem
),
binned AS (
  SELECT LEAST(CAST(FLOOR((l_extendedprice - s.mn) / s.width) AS BIGINT),
               {_PCTBIN_B - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem, stats s GROUP BY 1
),
cum AS (
  SELECT bin, c,
         CAST(SUM(c) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
  FROM binned
),
qs AS (SELECT UNNEST([5E-1, 95E-2, 99E-2]) AS q),
hits AS (
  SELECT qs.q, MIN(cum.bin) AS bin
  FROM qs JOIN cum ON cum.cc >= CAST(CEIL(qs.q * (SELECT n FROM stats)) AS BIGINT)
  GROUP BY qs.q
)
SELECT h.q, h.bin, c.c AS bin_count, c.cc AS cum_count,
       s.mn + h.bin * s.width AS lo,
       s.mn + (h.bin + 1) * s.width AS hi
FROM hits h JOIN cum c ON c.bin = h.bin, stats s
"""


@query("approx_percentile_binned", _PCTBIN_ORACLE, tags=("advanced", "agg"))
def approx_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width-histogram percentile approximation — the SCALE PATH for
    quantiles, complementing the exact order-statistic queries
    (`percentiles_per_type`, `winsorized_stats_per_type`, which sort
    within groups): p50/p95/p99 of lineitem price located to one of
    {_PCTBIN_B} equal-width bins in two scans (exact min/max/count, then
    map-side bin counts), no global sort anywhere.  Error is bounded a
    priori by one bin width, and unlike t-digest/KLL the answer is
    DETERMINISTIC — the bin index is the same floor((x-mn)/width) double
    op on both engines, so even this *approximate* operator hash-matches
    its oracle exactly (the determinism bar the engine-native
    approx_percentile can't meet; see r3 notes on dropped native
    sketches).

    Scale: the histogram is a {_PCTBIN_B}-long mergeable vector (map-side
    partial agg); the cumulative pass runs over bins, not rows."""
    from pyspark.sql import Window as W

    (lineitem,) = T(spark, sf_dir, "lineitem")
    stats = lineitem.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count("*").alias("n"),
        (
            (F.max("l_extendedprice") - F.min("l_extendedprice")) / _PCTBIN_B
        ).alias("width"),
    )
    binned = (
        lineitem.crossJoin(F.broadcast(stats))
        .select(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("mn")) / F.col("width"))
                .cast("long"),
                F.lit(_PCTBIN_B - 1).cast("long"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("c"))
    )
    cum = binned.select(
        "bin",
        "c",
        F.sum("c")
        .over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cc"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("q")
    )
    hits = (
        qs.join(
            F.broadcast(stats.select("n")), F.lit(True)
        )
        .join(cum, F.col("cc") >= F.ceil(F.col("q") * F.col("n")).cast("long"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    return (
        hits.join(cum, "bin")
        .crossJoin(F.broadcast(stats.select("mn", "width")))
        .select(
            "q",
            "bin",
            F.col("c").alias("bin_count"),
            F.col("cc").alias("cum_count"),
            (F.col("mn") + F.col("bin") * F.col("width")).alias("lo"),
            (F.col("mn") + (F.col("bin") + 1) * F.col("width")).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# OLS regression fit (closed form, exact integer moments)
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
),
agg AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(p AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(p * p AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(q * p AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sxy
  FROM m GROUP BY l_returnflag
),
fit AS (
  SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM agg
)
SELECT l_returnflag, n, slope,
       (sy - slope * sx) / n / 100.0 AS intercept,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM fit
"""


@query("ols_regression_fit", _OLS_ORACLE, tags=("advanced", "agg", "ml"))
def ols_regression_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ordinary-least-squares fit (price ~ quantity) per return
    flag — the grouped regression a feature pipeline runs in one scan
    instead of looping sklearn per group.  The normal equations need only
    the five moments `exact_corr_stats` already computes, so the entire fit
    is: exact integer-cent moment sums (associative, combinable map-side,
    decimal(38,0) so second moments can't overflow at 100 TB), then
    slope / intercept / R^2 as a handful of scalar double ops per GROUP —
    identical expression trees on both engines, so the doubles hash-match.
    Slope is directly dollars-per-quantity-unit (both axes scaled by the
    same 100); intercept converts cents back to dollars once.  The shuffle
    carries six longs per group regardless of fact size."""
    (li,) = T(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity") * 100).cast("long")
    p = F.round(F.col("l_extendedprice") * 100).cast("long")

    def mom(e):  # exact decimal sum of a bigint product, one rounding to double
        return F.sum(e.cast("decimal(38,0)")).cast("double")

    agg = (
        li.select("l_returnflag", q.alias("q"), p.alias("p"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            mom(F.col("q")).alias("sx"),
            mom(F.col("p")).alias("sy"),
            mom(F.col("q") * F.col("q")).alias("sxx"),
            mom(F.col("p") * F.col("p")).alias("syy"),
            mom(F.col("q") * F.col("p")).alias("sxy"),
        )
    )
    n = F.col("n")
    fit = agg.withColumn(
        "slope",
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (n * F.col("sxx") - F.col("sx") * F.col("sx")),
    )
    return fit.select(
        "l_returnflag",
        "n",
        "slope",
        ((F.col("sy") - F.col("slope") * F.col("sx")) / n / 100.0).alias("intercept"),
        (
            ((n * F.col("sxy") - F.col("sx") * F.col("sy")) * (n * F.col("sxy") - F.col("sx") * F.col("sy")))
            / (
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# median absolute deviation (two-pass integer order statistics)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH c AS (
  SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
r1 AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c
),
med AS (
  SELECT event_type, MAX(n) AS n,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med_cents
  FROM r1 GROUP BY event_type
),
d AS (
  SELECT c.event_type, abs(c.cents - med.med_cents) AS dev, c.event_id
  FROM c JOIN med USING (event_type)
),
r2 AS (
  SELECT event_type, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM d
)
SELECT med.event_type, med.n,
       med.med_cents / 100.0 AS median_value,
       MAX(CASE WHEN r2.rn = (r2.n + 1) // 2 THEN r2.dev END) / 100.0 AS mad_value
FROM r2 JOIN med USING (event_type)
GROUP BY med.event_type, med.n, med.med_cents
"""


@query("mad_robust_stats", _MAD_ORACLE, tags=("advanced", "agg"))
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust dispersion
    measure outlier detectors prefer over stddev (one junk row can move a
    stddev arbitrarily; moving a MAD takes corrupting half the group).
    Both medians are EXPLICIT lower-median order statistics at rank
    (n+1) div 2 in integer cents — engine median()/percentile() disagree
    on even-n interpolation, an integer rank cannot.  Two passes (median,
    then median of |x - med|), both windows and the join keyed on
    event_type, so one shuffle key serves the whole plan; at 100 TB each
    pass is a sort within the type partition, and the deviations join is
    co-partitioned, never broadcast-sized-dependent."""
    (events,) = T(spark, sf_dir, "events")
    c = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    r1 = c.select(
        "event_type",
        "cents",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("cents", "event_id"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    med = r1.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents"))
        ).alias("med_cents"),
    )
    d = c.join(med, "event_type").select(
        "event_type",
        "n",
        "med_cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("dev"),
        "event_id",
    )
    r2 = d.select(
        "event_type",
        "n",
        "med_cents",
        "dev",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("dev", "event_id"))
        .alias("rn"),
    )
    return r2.groupBy("event_type", "n", "med_cents").agg(
        (
            F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dev"))) / 100.0
        ).alias("mad_value")
    ).select(
        "event_type",
        "n",
        (F.col("med_cents") / 100.0).alias("median_value"),
        "mad_value",
    )


# ---------------------------------------------------------------------------
# time-series autocorrelation (lag 1 and seasonal lag 24 on the hourly series)
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1
),
pairs AS (
  SELECT l.lag_h, a.s AS x, b.s AS y
  FROM (SELECT UNNEST([1, 24]) AS lag_h) l
  JOIN hourly a ON TRUE
  JOIN hourly b ON b.hr = a.hr + l.lag_h
),
agg AS (
  SELECT lag_h, COUNT(*) AS n_pairs,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS sxy
  FROM pairs GROUP BY lag_h
)
SELECT lag_h, n_pairs,
       (n_pairs * sxy - sx * sy)
         / (sqrt(n_pairs * sxx - sx * sx) * sqrt(n_pairs * syy - sy * sy)) AS autocorr
FROM agg
"""


@query("autocorrelation_hourly", _AUTOCORR_ORACLE, tags=("advanced", "timeseries"))
def autocorrelation_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-value series at lag 1 (local
    persistence) and lag 24 (daily seasonality) — the two numbers that
    decide whether a forecast needs an AR term and a seasonal term.  The
    series itself is an exact bigint (cents) aggregate; each lag is an
    equi-join of the series against itself shifted by integer hours (no
    window over raw rows — the join runs on the tiny post-agg series);
    Pearson over the pairs uses the same exact-decimal-moment discipline
    as `exact_corr_stats`.  At 100 TB the raw scan reduces to one row per
    hour before anything quadratic or ordered happens."""
    (events,) = T(spark, sf_dir, "events")
    hourly = cache_scoped(
        events.groupBy(
            (F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600))
            .cast("long")
            .alias("hr")
        ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"))
    )
    lag_df = spark.createDataFrame([(1,), (24,)], "lag_h int").select(
        F.col("lag_h").cast("long").alias("lag_h")
    )
    a, b = hourly.alias("a"), hourly.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lag_df))
        .join(b, F.col("b.hr") == F.col("a.hr") + F.col("lag_h"))
        .select("lag_h", F.col("a.s").alias("x"), F.col("b.s").alias("y"))
    )

    def mom(e):
        return F.sum(e.cast("decimal(38,0)")).cast("double")

    agg = pairs.groupBy("lag_h").agg(
        F.count("*").alias("n_pairs"),
        mom(F.col("x")).alias("sx"),
        mom(F.col("y")).alias("sy"),
        mom(F.col("x") * F.col("x")).alias("sxx"),
        mom(F.col("y") * F.col("y")).alias("syy"),
        mom(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_pairs")
    return agg.select(
        F.col("lag_h").cast("int").alias("lag_h"),
        "n_pairs",
        (
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("autocorr"),
    )


# ---------------------------------------------------------------------------
# zone-map (min/max statistics) skipping report
# ---------------------------------------------------------------------------

_ZONE_MAP_ORACLE = """
WITH mx AS (SELECT MAX(l_orderkey) AS maxk FROM lineitem),
zones AS (
  SELECT (l_orderkey * 32) // (mx.maxk + 1) AS zone,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
  FROM lineitem, mx GROUP BY 1
)
SELECT zone, n_rows,
       strftime(min_ship, '%Y-%m-%d') AS min_ship,
       strftime(max_ship, '%Y-%m-%d') AS max_ship,
       CAST(max_ship < DATE '1994-01-01' OR min_ship > DATE '1994-12-31' AS INT)
         AS pruned
FROM zones
"""


@query("zone_map_skipping_report", _ZONE_MAP_ORACLE, tags=("advanced", "etl"))
def zone_map_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max statistics) accounting — the data-
    skipping ledger behind every lakehouse scan planner: model 32 files as
    orderkey range zones (one integer multiply+div per row, no global
    sort), compute each zone's min/max shipdate footer stats, and mark
    which zones a 1994 shipdate predicate can skip WITHOUT reading.  On
    TPC-H data orderkeys correlate loosely with dates, so pruning is
    partial — exactly the signal that tells an operator whether the table
    needs re-clustering (`zorder_multidim_filter` is the fix; this is the
    diagnostic that says when).  Complements `partition_pruned_scan`,
    which witnesses the ENGINE skipping directory partitions; this
    computes the statistics layer itself, so it works for any candidate
    layout before committing to a rewrite.  All min/max/count per zone —
    one map-side-combinable aggregation at any scale."""
    (li,) = T(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_orderkey").alias("maxk"))
    zones = (
        li.crossJoin(F.broadcast(mx))
        .groupBy(
            # integer div, not double /: at fact-table keys beyond 2^53/32 a
            # double quotient could round a boundary row into the wrong zone
            F.expr("(l_orderkey * 32) div (maxk + 1)").alias("zone")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
    )
    return zones.select(
        "zone",
        "n_rows",
        F.date_format("min_ship", "yyyy-MM-dd").alias("min_ship"),
        F.date_format("max_ship", "yyyy-MM-dd").alias("max_ship"),
        (
            (F.col("max_ship") < F.lit("1994-01-01").cast("date"))
            | (F.col("min_ship") > F.lit("1994-12-31").cast("date"))
        )
        .cast("int")
        .alias("pruned"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) for d = 1..9, materialized as full-precision double
# literals: libm log10 is not guaranteed correctly rounded, so computing
# these IN the engines could differ in the last ulp between Spark and
# DuckDB — constants are data, folded identically everywhere.
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

# `e0` suffix forces DOUBLE parsing on both engines (a bare decimal
# literal parses as DECIMAL in DuckDB and in Spark, which formats with a
# different trailing-zero convention and breaks the hash)
_BENFORD_CASE_SQL = (
    "CASE first_digit "
    + " ".join(f"WHEN {d} THEN {p}e0" for d, p in _BENFORD_P.items())
    + " END"
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS first_digit
  FROM lineitem
),
counts AS (
  SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM counts)
SELECT first_digit, n_obs,
       CAST(n_obs AS DOUBLE) / tot.n AS observed_pct,
       {_BENFORD_CASE_SQL} AS benford_pct,
       CAST(n_obs AS DOUBLE) / tot.n - {_BENFORD_CASE_SQL} AS deviation
FROM counts, tot
"""


@query("benford_digit_audit", _BENFORD_ORACLE, tags=("advanced", "etl"))
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the price column — the forensic
    data-quality screen for fabricated or truncated numeric data (natural
    multiplicative data follows P(d) = log10(1+1/d); synthetic uniform
    data does not, and the deviation column shows exactly that here).
    First digit extracted through FLOOR→bigint→string (floor, not cast:
    double→int casting rounds in DuckDB but truncates in Spark); expected
    probabilities are full-precision literals, not in-engine log10 calls
    (libm is not correctly-rounded, see `_BENFORD_P`).  One map-side
    digit extraction + a 9-row aggregate: nothing here grows with the
    table."""
    (li,) = T(spark, sf_dir, "lineitem")
    digits = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(F.count("*").alias("n_obs"))
    tot = counts.agg(F.sum("n_obs").alias("n"))
    benford = F.expr(_BENFORD_CASE_SQL)
    return counts.crossJoin(F.broadcast(tot)).select(
        "first_digit",
        "n_obs",
        (F.col("n_obs").cast("double") / F.col("n")).alias("observed_pct"),
        benford.alias("benford_pct"),
        (F.col("n_obs").cast("double") / F.col("n") - benford).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# quantile normalization (map each group onto the pooled distribution)
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH c AS (
  SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
grp AS (
  SELECT event_id, event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c
),
pool AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, event_id) AS pr,
         COUNT(*) OVER () AS big_n
  FROM c
)
SELECT g.event_id, g.event_type,
       g.cents / 100.0 AS value,
       p.cents / 100.0 AS normalized
FROM grp g
JOIN pool p
  ON p.pr = (g.rn * p.big_n + g.n - 1) // g.n
"""


@query("quantile_normalize_per_type", _QNORM_ORACLE, tags=("advanced", "agg"))
def quantile_normalize_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: replace each value with the POOLED
    distribution's value at the same within-group quantile, forcing every
    event type onto one common distribution — the bioinformatics/feature-
    prep standard for making heterogeneous sources comparable (z-scores
    only align two moments; this aligns the whole shape).  Both rank
    computations are integer (the winsorized/MAD order-statistic
    discipline); the group→pool rank mapping ceil(rn·N/n) is one integer
    expression, and the lookup is an equi-join on the pooled rank — no
    float quantile function with engine-specific interpolation anywhere.

    Scale: the per-type window shuffles on event_type; the pooled ranking
    is `distributed_rank` (range partition on (cents, event_id) +
    per-partition positions + broadcast partition-offset prefix sums), so
    the pooled pass shuffles once and sorts range slices in parallel —
    no single-partition window anywhere in the plan.  The rank is
    bit-identical to a global row_number (total order via event_id), so
    the hash-checked output is unchanged by the distributed form."""
    from pyspark.sql import Window as W

    from map_reduce485_spark.queries._util import distributed_rank

    (events,) = T(spark, sf_dir, "events")
    c = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    grp = c.select(
        "event_id",
        "event_type",
        "cents",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("cents", "event_id"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    pool = distributed_rank(
        c.select(F.col("cents").alias("p_cents"), F.col("event_id").alias("_pe")),
        [F.col("p_cents"), F.col("_pe")],
        alias="pr",
    ).drop("_pe")
    big_n = pool.agg(F.count("*").alias("big_n"))
    # compute the target pooled rank ON the group side (1-row broadcast of
    # N) so the lookup is a genuine EQUI-join on pr — a join condition
    # mixing columns from both sides would force a nested-loop over the
    # full table, the difference between a hash join and O(n²) at scale
    targeted = grp.crossJoin(F.broadcast(big_n)).withColumn(
        "pr", F.expr("(rn * big_n + n - 1) div n")
    )
    return targeted.join(pool, "pr").select(
        "event_id",
        "event_type",
        (F.col("cents") / 100.0).alias("value"),
        (F.col("p_cents") / 100.0).alias("normalized"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy screening for released/training data)
# ---------------------------------------------------------------------------

_KANON_K = 5

_KANON_ORACLE = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment, n,
       CAST(n < {_KANON_K} AS INT) AS at_risk
FROM cells
"""


@query("k_anonymity_audit", _KANON_ORACLE, tags=("advanced", "privacy"))
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation × market segment):
    a released record is re-identifiable when its quasi-identifier cell
    holds fewer than k individuals, so the audit is the per-cell census
    with an at-risk flag at k=5 — the screen a training-data release
    runs BEFORE `sensitive_term_mask`-style scrubbing (masking direct
    identifiers does nothing about quasi-identifier uniqueness).  One
    map-side-combinable aggregation; the generalization fix (coarsen
    cells until every n ≥ k) reruns the same query on coarsened columns."""
    (cust,) = T(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n")
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        (F.col("n") < _KANON_K).cast("int").alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# weekday seasonal index
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, isodow(ts) AS weekday,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events GROUP BY 1, 2
),
wk AS (
  SELECT weekday, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(day_cents) AS BIGINT) AS cents
  FROM daily GROUP BY weekday
),
tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS all_cents,
         CAST(SUM(n_days) AS BIGINT) AS all_days
  FROM wk
)
SELECT weekday, n_days,
       CAST(cents AS DOUBLE) / n_days / 100.0 AS mean_daily_value,
       (CAST(cents AS DOUBLE) / n_days)
         / (CAST(tot.all_cents AS DOUBLE) / tot.all_days) AS seasonal_index
FROM wk, tot
"""


@query("weekday_seasonal_index", _SEASONAL_ORACLE, tags=("advanced", "timeseries"))
def weekday_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices — the multiplicative decomposition
    step a forecast applies before trend fitting: each weekday's mean
    daily value relative to the overall mean (index 1.0 = no weekday
    effect; `autocorrelation_hourly`'s lag-24 number says whether daily
    structure exists, this says WHICH days carry it).  ISO weekday
    numbering on both engines; all sums exact bigint cents, two float
    divisions per row against a 1-row broadcast total."""
    (events,) = T(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.dayofweek("ts").alias("dow_sun1"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents"))
    # convert Spark's Sunday=1 convention to ISO (Mon=1..Sun=7)
    wk = daily.select(
        F.when(F.col("dow_sun1") == 1, 7).otherwise(F.col("dow_sun1") - 1).alias("weekday"),
        "day_cents",
    ).groupBy("weekday").agg(
        F.count("*").alias("n_days"), F.sum("day_cents").alias("cents")
    )
    tot = wk.agg(
        F.sum("cents").alias("all_cents"), F.sum("n_days").alias("all_days")
    )
    return wk.crossJoin(F.broadcast(tot)).select(
        "weekday",
        "n_days",
        (F.col("cents").cast("double") / F.col("n_days") / 100.0).alias(
            "mean_daily_value"
        ),
        (
            (F.col("cents").cast("double") / F.col("n_days"))
            / (F.col("all_cents").cast("double") / F.col("all_days"))
        ).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# join cardinality estimation vs actual (optimizer diagnostics)
# ---------------------------------------------------------------------------

_JOINCARD_ORACLE = """
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_a
  FROM orders
),
b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS d_b
  FROM customer
),
actual AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_actual
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT n_a, d_a, n_b, d_b, n_actual,
       CAST(n_a AS DOUBLE) * n_b / GREATEST(d_a, d_b) AS n_estimated,
       (CAST(n_a AS DOUBLE) * n_b / GREATEST(d_a, d_b)) / n_actual AS est_over_actual
FROM a, b, actual
"""


@query("join_cardinality_estimate", _JOINCARD_ORACLE, tags=("advanced", "etl"))
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook equi-join cardinality estimate |A||B|/max(d_A, d_B)
    (System R / Selinger — what every cost-based optimizer, Catalyst's
    CBO included, computes from column NDV stats) evaluated NEXT TO the
    true join count — the diagnostic that tells an operator whether stats
    would have steered the planner right, or whether key correlation
    makes the uniform-frequency assumption lie (`key_skew_report` is the
    companion view of the same hazard).  Inputs are three exact
    aggregates; distinct counts shuffle key-hashes only; the ratio is two
    float ops on a 1-row frame."""
    orders, cust = T(spark, sf_dir, "orders", "customer")
    a = orders.agg(
        F.count("*").alias("n_a"),
        F.countDistinct("o_custkey").alias("d_a"),
    )
    b = cust.agg(
        F.count("*").alias("n_b"),
        F.countDistinct("c_custkey").alias("d_b"),
    )
    actual = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .agg(F.count("*").alias("n_actual"))
    )
    est = F.col("n_a").cast("double") * F.col("n_b") / F.greatest(
        F.col("d_a"), F.col("d_b")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(actual))
        .select(
            "n_a",
            "d_a",
            "n_b",
            "d_b",
            "n_actual",
            est.alias("n_estimated"),
            (est / F.col("n_actual")).alias("est_over_actual"),
        )
    )


# ---------------------------------------------------------------------------
# anti-entropy content digest
# ---------------------------------------------------------------------------

_DIGEST_ORACLE = """
WITH h AS (
  SELECT CAST('0x' || substr(md5(
           CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
           || '|' || CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
         ), 1, 15) AS BIGINT) AS rh
  FROM lineitem
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(rh AS DECIMAL(38,0))) % 9223372036854775783 AS BIGINT)
         AS sum_digest,
       CAST(BIT_XOR(rh) AS BIGINT) AS xor_digest
FROM h
"""


@query("table_content_digest", _DIGEST_ORACLE, tags=("advanced", "etl"))
def table_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INDEPENDENT table content digest — the anti-entropy check two
    replicas (or a pre/post-migration pair) exchange to prove their row
    MULTISETS match without moving data: per-row md5 over a canonical
    key|value encoding, folded with two commutative-associative
    combiners (bigint SUM catches multiplicity changes, BIT_XOR is the
    independent witness; together a dropped row, a duplicated row, or a
    flipped cent all change the digest).  15 hex digits keep the per-row
    value within bigint; the aggregation is map-side combinable, so the
    digest of 100 TB costs one scan and shuffles 24 bytes per partition —
    same contract as the reference's md5 placement check, promoted from
    partitioning to content verification."""
    (li,) = T(spark, sf_dir, "lineitem")
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.round(F.col("l_extendedprice") * 100).cast("long").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return li.select(rh.alias("rh")).agg(
        F.count("*").alias("n_rows"),
        # sum in decimal(38,0) (a bigint sum overflows at ~10 rows of 60-bit
        # hashes under ANSI), reduced by a < 2^63 prime into a bigint digest
        (
            F.sum(F.col("rh").cast("decimal(38,0)")) % F.lit(9223372036854775783)
        )
        .cast("long")
        .alias("sum_digest"),
        F.expr("bit_xor(rh)").alias("xor_digest"),
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov test (exact integer CDF gap)
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH s AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CAST(event_type = 'view' AS INT) AS is_a
  FROM events WHERE event_type IN ('view', 'purchase')
),
n AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(SUM(1 - is_a) AS BIGINT) AS n_b
  FROM s
),
steps AS (
  SELECT cents,
         SUM(SUM(is_a)) OVER (ORDER BY cents) AS c_a,
         SUM(SUM(1 - is_a)) OVER (ORDER BY cents) AS c_b
  FROM s GROUP BY cents
),
gaps AS (
  -- n_a·n_b·|F_a − F_b| stays an exact bigint: the argmax is decided on
  -- integers, one float division at the very end
  SELECT steps.cents, abs(c_a * n.n_b - c_b * n.n_a) AS gap_scaled, n.n_a, n.n_b
  FROM steps, n
),
mx AS (SELECT MAX(gap_scaled) AS peak FROM gaps)
SELECT g.n_a, g.n_b,
       CAST(g.gap_scaled AS BIGINT) AS gap_scaled,
       CAST(g.gap_scaled AS DOUBLE) / (g.n_a * g.n_b) AS ks_statistic,
       MIN(g.cents) / 100.0 AS at_value
FROM gaps g, mx WHERE g.gap_scaled = mx.peak
GROUP BY g.n_a, g.n_b, g.gap_scaled
"""


@query("ks_two_sample_test", _KS_ORACLE, tags=("advanced", "stats"))
def ks_two_sample_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the view and
    purchase value distributions — the distribution-drift test a data
    pipeline runs between cohorts/snapshots (z-tests compare means; KS
    catches shape changes anywhere in the CDF).  The whole sup-norm
    search is EXACT integer arithmetic: at each distinct value the scaled
    gap n_a·n_b·|F_a−F_b| = |c_a·n_b − c_b·n_a| is a bigint, the argmax
    is decided on bigints (no float comparisons anywhere), and the
    statistic's single division happens once at the end.  The running
    CDFs are ONE :func:`distributed_prefix_sum` pass (both cumulative
    counts in a single range shuffle) over the DISTINCT-value steps —
    the value domain scales with the corpus (prices multiply with the
    part catalog), so a single-partition ordered window here is the
    round-9-item-1 failure shape; `ks_two_sample_binned` additionally
    pre-bins to a constant domain (the 100 TB twin)."""
    (events,) = T(spark, sf_dir, "events")
    s = events.filter(F.col("event_type").isin("view", "purchase")).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "view").cast("int").alias("is_a"),
    )
    n = s.agg(
        F.sum("is_a").alias("n_a"),
        F.sum(1 - F.col("is_a")).alias("n_b"),
    )
    per_v = s.groupBy("cents").agg(
        F.sum("is_a").alias("da"), F.sum(1 - F.col("is_a")).alias("db")
    )
    steps = distributed_prefix_sum(
        per_v, ["cents"], ["da", "db"], ["c_a", "c_b"]
    ).select("cents", "c_a", "c_b")
    gaps = steps.crossJoin(F.broadcast(n)).select(
        "cents",
        F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")).alias(
            "gap_scaled"
        ),
        "n_a",
        "n_b",
    )
    mx = gaps.agg(F.max("gap_scaled").alias("peak"))
    return (
        gaps.join(F.broadcast(mx), gaps.gap_scaled == mx.peak)
        .groupBy("n_a", "n_b", "gap_scaled")
        .agg((F.min("cents") / 100.0).alias("at_value"))
        .select(
            "n_a",
            "n_b",
            "gap_scaled",
            (F.col("gap_scaled").cast("double") / (F.col("n_a") * F.col("n_b"))).alias(
                "ks_statistic"
            ),
            "at_value",
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (distributed resampling)
# ---------------------------------------------------------------------------

_BOOT_B = 32

# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k!), as double literals
# — constants are data (`_BENFORD_P` rationale)
_POIS_CDF = (
    "0.36787944117144233e0",
    "0.7357588823428847e0",
    "0.9196986029286058e0",
    "0.9810118431238463e0",
    "0.9963401531726563e0",
)


def _weight_case(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {cases} ELSE 5 END"


_BOOT_ORACLE = f"""
WITH s AS (
  SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
),
expanded AS (
  SELECT r.r, s.cents,
         {_weight_case("CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || CAST(s.event_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0")} AS w
  FROM s CROSS JOIN (SELECT UNNEST(generate_series(0, {_BOOT_B - 1})) AS r) r
),
boots AS (
  SELECT r, CAST(SUM(w * cents) AS DOUBLE) / SUM(w) / 100.0 AS boot_mean
  FROM expanded GROUP BY r HAVING SUM(w) > 0
),
ranked AS (
  SELECT boot_mean, ROW_NUMBER() OVER (ORDER BY boot_mean) AS rn,
         COUNT(*) OVER () AS b
  FROM boots
),
full_mean AS (
  SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS sample_mean FROM s
)
SELECT full_mean.sample_mean,
       CAST(MAX(ranked.b) AS BIGINT) AS n_resamples,
       MAX(CASE WHEN rn = 1 THEN boot_mean END) AS boot_min,
       MAX(CASE WHEN rn = (b * 10 + 99) // 100 THEN boot_mean END) AS ci80_lo,
       MAX(CASE WHEN rn = (b * 90 + 99) // 100 THEN boot_mean END) AS ci80_hi,
       MAX(CASE WHEN rn = b THEN boot_mean END) AS boot_max
FROM ranked, full_mean GROUP BY full_mean.sample_mean
"""


@query("poisson_bootstrap_ci", _BOOT_ORACLE, tags=("advanced", "stats"))
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean event value via the
    POISSON BOOTSTRAP (Chamandy et al., Google) — the resampling scheme
    that actually distributes: instead of drawing n-out-of-n per resample
    (which needs global coordination), every row independently contributes
    Poisson(1) copies to each of B=32 resamples, so the whole thing is a
    map-side weight expression + one grouped aggregation.  Weights are
    md5-derived uniforms pushed through the Poisson inverse-CDF thresholds
    (literals — libm exp is not engine-exact), so every engine and rerun
    draws the SAME resamples; resample means are exact-integer ratios and
    the CI bounds are integer-rank order statistics over the B means
    (winsorized-style, no percentile-function interpolation).  Cost model
    is honest: the expansion is B× the scan (the price of any bootstrap),
    but it's embarrassingly parallel and the shuffle carries B×|groups|
    partial sums, not B× the data."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    s = events.select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    # the resample id is named `replicate` so the plan audit can classify
    # the groupBy below as bounded-by-B (it comes from a 32-row Range, not
    # from data; the generic one-letter `r` is deliberately not blessable)
    r = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("replicate"))
    u = (
        "CAST(conv(substring(md5(concat(CAST(replicate AS STRING), ':',"
        " CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0"
    )
    expanded = s.crossJoin(F.broadcast(r)).select(
        "replicate", "cents", F.expr(_weight_case(u)).alias("w")
    )
    boots = (
        expanded.groupBy("replicate")
        .agg(
            (
                F.sum(F.col("w") * F.col("cents")).cast("double")
                / F.sum("w")
                / 100.0
            ).alias("boot_mean"),
            F.sum("w").alias("total_w"),
        )
        .filter(F.col("total_w") > 0)
    )
    ranked = boots.select(
        "boot_mean",
        F.row_number().over(W.orderBy("boot_mean")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("b"),
    )
    full_mean = s.agg(
        (F.sum("cents").cast("double") / F.count("*") / 100.0).alias("sample_mean")
    )
    return (
        ranked.crossJoin(F.broadcast(full_mean))
        .groupBy("sample_mean")
        .agg(
            F.max("b").alias("n_resamples"),
            F.max(F.when(F.col("rn") == 1, F.col("boot_mean"))).alias("boot_min"),
            F.max(
                F.when(F.col("rn") == F.expr("(b * 10 + 99) div 100"), F.col("boot_mean"))
            ).alias("ci80_lo"),
            F.max(
                F.when(F.col("rn") == F.expr("(b * 90 + 99) div 100"), F.col("boot_mean"))
            ).alias("ci80_hi"),
            F.max(F.when(F.col("rn") == F.col("b"), F.col("boot_mean"))).alias(
                "boot_max"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) two-sample test — round 8
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH s AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('view', 'purchase')
),
per_v AS (
  SELECT cents, CAST(SUM(is_a) AS BIGINT) AS da,
         CAST(SUM(1 - is_a) AS BIGINT) AS db
  FROM s GROUP BY cents
),
steps AS (
  SELECT cents, da, db, da + db AS t,
         CAST(COALESCE(SUM(da + db) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM per_v
),
agg AS (
  SELECT CAST(SUM(da) AS BIGINT) AS n_a, CAST(SUM(db) AS BIGINT) AS n_b,
         CAST(SUM(da * (2 * cum_before + t + 1)) AS BIGINT) AS dbl_rank_sum_a,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_cubes
  FROM steps
)
SELECT n_a, n_b,
       dbl_rank_sum_a / 2e0 - n_a * (n_a + 1) / 2e0 AS u_a,
       CAST(n_a AS DOUBLE) * n_b
         - (dbl_rank_sum_a / 2e0 - n_a * (n_a + 1) / 2e0) AS u_b,
       ((dbl_rank_sum_a / 2e0 - n_a * (n_a + 1) / 2e0)
         - CAST(n_a AS DOUBLE) * n_b / 2e0)
       / sqrt(CAST(n_a AS DOUBLE) * n_b / 12e0
              * ((n_a + n_b + 1e0)
                 - CAST(tie_cubes AS DOUBLE)
                   / ((n_a + n_b) * (n_a + n_b - 1e0)))) AS z
FROM agg
"""


@query("mann_whitney_u_test", _MWU_ORACLE, tags=("advanced", "stats"))
def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the view and purchase value distributions —
    the rank-based location test that pairs with `ks_two_sample_test`
    (KS reads shape anywhere in the CDF; U reads stochastic dominance),
    the second standard drift alarm between cohorts or snapshots.

    Exactness discipline: tie-averaged ranks are kept INTEGER by
    carrying twice-the-rank-sum — for a distinct value with t tied rows
    and cum_before predecessors every tied row's average rank is
    (2*cum_before + t + 1)/2, so Σ da*(2*cum_before + t + 1) is a
    bigint and every float in U, and the tie-corrected z appears only
    in the final expression, computed with an identical tree (+,-,*,/,
    sqrt — all IEEE-correctly-rounded) on both engines, hence emitted
    UNROUNDED.  Scale: same shape as KS — one groupBy on the value
    domain, then a :func:`distributed_prefix_sum` over the distinct-value
    steps (the value domain scales with the corpus — a single-partition
    ordered window is the round-9-item-1 failure shape;
    `mann_whitney_u_binned` pre-bins to a constant domain for 100 TB);
    the STRICT prefix cum_before is the inclusive scan minus the step's
    own tie count t — exact bigint arithmetic — then a 1-row reduction."""
    (events,) = T(spark, sf_dir, "events")
    s = events.filter(F.col("event_type").isin("view", "purchase")).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "view").cast("int").alias("is_a"),
    )
    per_v = s.groupBy("cents").agg(
        F.sum("is_a").alias("da"), F.sum(1 - F.col("is_a")).alias("db")
    )
    steps = distributed_prefix_sum(
        per_v.select("cents", "da", "db", (F.col("da") + F.col("db")).alias("t")),
        ["cents"],
        "t",
        "cum_incl",
    ).select(
        "da", "db", "t", (F.col("cum_incl") - F.col("t")).alias("cum_before")
    )
    agg = steps.agg(
        F.sum("da").alias("n_a"),
        F.sum("db").alias("n_b"),
        F.sum(
            F.col("da") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("dbl_rank_sum_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_cubes"),
    )
    u_a = F.col("dbl_rank_sum_a") / F.expr("2e0") - (
        F.col("n_a") * (F.col("n_a") + 1)
    ) / F.expr("2e0")
    n_ab = F.col("n_a").cast("double") * F.col("n_b")
    n = F.col("n_a") + F.col("n_b")
    z = (u_a - n_ab / F.expr("2e0")) / F.sqrt(
        n_ab
        / F.expr("12e0")
        * (
            (n + F.expr("1e0"))
            - F.col("tie_cubes").cast("double") / (n * (n - F.expr("1e0")))
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        (n_ab - u_a).alias("u_b"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# pre-binned twins of the rank statistics — the realized 100 TB move the
# unbinned tests' docstrings promise ("pre-bin values first")
# ---------------------------------------------------------------------------

_STATBIN_B = 1024

_STATBIN_SQL = f"""s AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('view', 'purchase')
),
st AS (
  SELECT MIN(cents) AS mn,
         GREATEST(CAST(MAX(cents) - MIN(cents) AS DOUBLE) / {_STATBIN_B}e0,
                  1e-9) AS width
  FROM s
),
b AS (
  SELECT LEAST(CAST(FLOOR((cents - st.mn) / st.width) AS BIGINT),
               {_STATBIN_B - 1}) AS bin, is_a
  FROM s, st
),
per_v AS (
  SELECT bin, CAST(SUM(is_a) AS BIGINT) AS da,
         CAST(SUM(1 - is_a) AS BIGINT) AS db
  FROM b GROUP BY bin
)"""


def _spark_statbin(events) -> DataFrame:
    """(bin, da, db) — view/purchase counts per fixed-width value bin, the
    shared front end of the binned MWU/KS twins.  Two scans (exact
    min/max, then map-side bin counts); the width guard (GREATEST 1e-9)
    keeps a constant-valued corpus at bin 0 on both engines instead of a
    NaN-cast divergence."""
    s = events.filter(F.col("event_type").isin("view", "purchase")).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "view").cast("int").alias("is_a"),
    )
    stats = s.agg(
        F.min("cents").alias("mn"),
        F.greatest(
            (F.max("cents") - F.min("cents")).cast("double")
            / F.lit(float(_STATBIN_B)),
            F.lit(1e-9),
        ).alias("width"),
    )
    return (
        s.crossJoin(F.broadcast(stats))
        .select(
            F.least(
                F.floor((F.col("cents") - F.col("mn")) / F.col("width")).cast(
                    "long"
                ),
                F.lit(_STATBIN_B - 1).cast("long"),
            ).alias("bin"),
            "is_a",
        )
        .groupBy("bin")
        .agg(F.sum("is_a").alias("da"), F.sum(1 - F.col("is_a")).alias("db"))
    )


_MWU_BINNED_ORACLE = f"""
WITH {_STATBIN_SQL},
steps AS (
  SELECT bin, da, db, da + db AS t,
         CAST(COALESCE(SUM(da + db) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM per_v
),
agg AS (
  SELECT CAST(SUM(da) AS BIGINT) AS n_a, CAST(SUM(db) AS BIGINT) AS n_b,
         CAST(SUM(da * (2 * cum_before + t + 1)) AS BIGINT) AS dbl_rank_sum_a,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_cubes
  FROM steps
)
SELECT n_a, n_b,
       dbl_rank_sum_a / 2e0 - n_a * (n_a + 1) / 2e0 AS u_a,
       CAST(n_a AS DOUBLE) * n_b
         - (dbl_rank_sum_a / 2e0 - n_a * (n_a + 1) / 2e0) AS u_b,
       ((dbl_rank_sum_a / 2e0 - n_a * (n_a + 1) / 2e0)
         - CAST(n_a AS DOUBLE) * n_b / 2e0)
       / sqrt(CAST(n_a AS DOUBLE) * n_b / 12e0
              * ((n_a + n_b + 1e0)
                 - CAST(tie_cubes AS DOUBLE)
                   / ((n_a + n_b) * (n_a + n_b - 1e0)))) AS z
FROM agg
"""


@query("mann_whitney_u_binned", _MWU_BINNED_ORACLE, tags=("advanced", "stats"))
def mann_whitney_u_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U over PRE-BINNED values — the twin
    `mann_whitney_u_test`'s docstring prescribes for 100 TB: the exact
    test's ordered window runs over distinct-VALUE steps, which is bounded
    by the value domain but unbounded for high-cardinality doubles; here
    every value first lands in one of {b} fixed-width bins (exact
    min/max + map-side bin counts, the `approx_percentile_binned`
    discipline), so the rank window's input is ≤ {b} rows at ANY corpus
    size.  Binning coarsens ties — all rows in a bin share one midrank —
    which is the documented approximation: U shifts by at most the
    within-bin rank spread, and the tie-corrected z uses the bin tie
    structure.  Same integer-exact twice-the-rank-sum discipline as the
    exact twin, so the output still hash-matches DuckDB bit-for-bit."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    per_v = _spark_statbin(events)
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, -1)
    steps = per_v.select(
        "da",
        "db",
        (F.col("da") + F.col("db")).alias("t"),
        F.coalesce(F.sum(F.col("da") + F.col("db")).over(w), F.lit(0)).alias(
            "cum_before"
        ),
    )
    agg = steps.agg(
        F.sum("da").alias("n_a"),
        F.sum("db").alias("n_b"),
        F.sum(
            F.col("da") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("dbl_rank_sum_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_cubes"),
    )
    u_a = F.col("dbl_rank_sum_a") / F.expr("2e0") - (
        F.col("n_a") * (F.col("n_a") + 1)
    ) / F.expr("2e0")
    n_ab = F.col("n_a").cast("double") * F.col("n_b")
    n = F.col("n_a") + F.col("n_b")
    z = (u_a - n_ab / F.expr("2e0")) / F.sqrt(
        n_ab
        / F.expr("12e0")
        * (
            (n + F.expr("1e0"))
            - F.col("tie_cubes").cast("double") / (n * (n - F.expr("1e0")))
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        (n_ab - u_a).alias("u_b"),
        z.alias("z"),
    )


mann_whitney_u_binned.__doc__ = mann_whitney_u_binned.__doc__.format(b=_STATBIN_B)


_KS_BINNED_ORACLE = f"""
WITH {_STATBIN_SQL},
n AS (
  SELECT CAST(SUM(da) AS BIGINT) AS n_a, CAST(SUM(db) AS BIGINT) AS n_b
  FROM per_v
),
steps AS (
  SELECT bin,
         SUM(da) OVER (ORDER BY bin) AS c_a,
         SUM(db) OVER (ORDER BY bin) AS c_b
  FROM per_v
),
gaps AS (
  SELECT steps.bin, abs(c_a * n.n_b - c_b * n.n_a) AS gap_scaled, n.n_a, n.n_b
  FROM steps, n
),
mx AS (SELECT MAX(gap_scaled) AS peak FROM gaps)
SELECT g.n_a, g.n_b,
       CAST(g.gap_scaled AS BIGINT) AS gap_scaled,
       CAST(g.gap_scaled AS DOUBLE) / (g.n_a * g.n_b) AS ks_statistic,
       MIN(g.bin) AS at_bin
FROM gaps g, mx WHERE g.gap_scaled = mx.peak
GROUP BY g.n_a, g.n_b, g.gap_scaled
"""


@query("ks_two_sample_binned", _KS_BINNED_ORACLE, tags=("advanced", "stats"))
def ks_two_sample_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS over PRE-BINNED values — the realized 100 TB twin of
    `ks_two_sample_test` (same move as `mann_whitney_u_binned`): the CDF
    sup-norm search runs on the {b}-bin grid, so the ordered window's
    input is ≤ {b} rows at any corpus size and the statistic's error vs
    the exact D is bounded by the largest single-bin CDF mass (both CDFs
    are exact AT every bin boundary — only gaps strictly inside a bin are
    invisible).  The argmax stays exact integer arithmetic
    (|c_a·n_b − c_b·n_a| on bigints); one float division at the end."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    per_v = _spark_statbin(events)
    n = per_v.agg(F.sum("da").alias("n_a"), F.sum("db").alias("n_b"))
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    steps = per_v.select(
        "bin",
        F.sum("da").over(w).alias("c_a"),
        F.sum("db").over(w).alias("c_b"),
    )
    gaps = steps.crossJoin(F.broadcast(n)).select(
        "bin",
        F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")).alias(
            "gap_scaled"
        ),
        "n_a",
        "n_b",
    )
    mx = gaps.agg(F.max("gap_scaled").alias("peak"))
    return (
        gaps.join(F.broadcast(mx), gaps.gap_scaled == mx.peak)
        .groupBy("n_a", "n_b", "gap_scaled")
        .agg(F.min("bin").alias("at_bin"))
        .select(
            "n_a",
            "n_b",
            "gap_scaled",
            (
                F.col("gap_scaled").cast("double") / (F.col("n_a") * F.col("n_b"))
            ).alias("ks_statistic"),
            "at_bin",
        )
    )


ks_two_sample_binned.__doc__ = ks_two_sample_binned.__doc__.format(b=_STATBIN_B)


# ---------------------------------------------------------------------------
# burstiness (Fano factor) of hourly event arrivals — round 9
# ---------------------------------------------------------------------------

_FANO_ORACLE = """
WITH hc AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, hr
),
mo AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS sq
  FROM hc GROUP BY event_type
)
SELECT event_type, n_hours, s AS n_events,
       CAST(s AS DOUBLE) / n_hours AS mean_per_hour,
       (CAST(sq AS DOUBLE) / n_hours
        - (CAST(s AS DOUBLE) / n_hours) * (CAST(s AS DOUBLE) / n_hours))
       / (CAST(s AS DOUBLE) / n_hours) AS fano
FROM mo
"""


@query("fano_burstiness_hourly", _FANO_ORACLE, tags=("advanced", "stats"))
def fano_burstiness_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURSTINESS of event arrivals per type: the Fano factor
    (variance/mean of hourly counts) over each type's OBSERVED hours —
    1.0 for a Poisson process, >1 for bursty arrivals, <1 for regular
    ones.  The drift alarm that catches what a mean-rate comparison
    can't: a scraper that delivers the same daily volume in hourly
    spikes shifts Fano long before it shifts totals (pairs with
    `anomaly_rolling_zscore`, which flags individual windows; this
    summarizes the whole arrival process).

    Exactness: hourly counts are integers, so the population-variance
    moments (Σc, Σc²) are exact BIGINTs and every division happens once
    in an identical expression tree on both engines.  Hours bucket on
    integer epoch-microseconds div 3600e6 (the sub-second-safe
    `unix_micros` discipline).  Observed-hours convention: hours with
    zero events of a type contribute no row (documented; a dense-spine
    variant is `time_gapfill_interpolate`'s move).  Plan: two
    map-side-combinable groupBys, output |event types| rows."""
    (events,) = T(spark, sf_dir, "events")
    hc = events.groupBy(
        "event_type",
        # integer floor-div — a double divide + cast can round up across
        # the hour boundary at epoch-microsecond magnitudes
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
    ).agg(F.count("*").alias("c"))
    mo = hc.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    m = F.col("s").cast("double") / F.col("n_hours")
    return mo.select(
        "event_type",
        "n_hours",
        F.col("s").alias("n_events"),
        m.alias("mean_per_hour"),
        ((F.col("sq").cast("double") / F.col("n_hours") - m * m) / m).alias(
            "fano"
        ),
    )


_EXACT_QUANTILES_ORACLE = """
WITH r AS (
  SELECT n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk
  FROM documents
),
n AS (SELECT COUNT(*) AS n FROM documents),
qs(pct) AS (VALUES (25), (50), (75), (90), (99))
SELECT qs.pct,
       CAST((qs.pct * n.n + 99) // 100 AS BIGINT) AS rk,
       r.n_chars AS value
FROM qs CROSS JOIN n
JOIN r ON r.rk = (qs.pct * n.n + 99) // 100
"""


@query("exact_global_quantiles", _EXACT_QUANTILES_ORACLE, tags=("advanced", "stats"))
def exact_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global percentiles (p25/p50/p75/p90/p99 of document length)
    via the distributed rank primitive — the ground-truth twin of
    `approx_percentile_binned`, for when a pipeline needs the real
    quantile, not a sketch (contract thresholds, billing tiers, SLA
    lines).

    A naive exact quantile is `row_number()` over a global ORDER BY —
    the single-partition window this repo bans (plan-audit rule).  Here
    the rank comes from `distributed_rank` (range repartition + local
    sort + broadcast partition-offset prefix sums, `_util.py`), so every
    stage is partitioned; the only driver-side values are the corpus
    count (one scalar) and the 5 target ranks computed from it.

    Determinism: target rank = ceil(pct*n/100) computed in INTEGER
    arithmetic ((pct*n + 99) div 100) — no float ceil at the boundary —
    and (n_chars, doc_id) is a total order, so ranks are engine-stable.
    Scale: one full shuffle of (n_chars, doc_id) pairs — two longs per
    document, not the documents — plus a broadcast 5-row join."""
    from map_reduce485_spark.queries._util import distributed_rank

    (docs,) = T(spark, sf_dir, "documents")
    n = docs.count()  # one scalar to the driver — the only collect
    targets = spark.createDataFrame(
        [(p, (p * n + 99) // 100) for p in (25, 50, 75, 90, 99)],
        "pct int, rk bigint",
    )
    ranked = distributed_rank(
        docs.select("n_chars", "doc_id"), ["n_chars", "doc_id"], alias="rk"
    )
    return (
        ranked.join(F.broadcast(targets), "rk")
        .select("pct", "rk", F.col("n_chars").alias("value"))
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-cell anomaly tests
# ---------------------------------------------------------------------------

_BH_Q = "0.1e0"  # target FDR, as a double literal on both engines

_BH_FDR_ORACLE = f"""
WITH m AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS hr,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
cells AS (
  SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS s1
  FROM m GROUP BY event_type, hr
),
gstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS gn,
         CAST(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS gs1,
         CAST(CAST(SUM(CAST(v * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS gs2
  FROM m
),
scored AS (
  SELECT event_type, hr, n,
         ROUND((s1 / n - gs1 / gn)
               / sqrt(((gn * gs2 - gs1 * gs1) / (gn * CAST(gn AS DOUBLE))) / n),
               6) AS z
  FROM cells, gstats
),
pvals AS (
  SELECT event_type, hr, n, z, ROUND(exp(-(z * z) / 2e0), 6) AS p
  FROM scored
),
ranked AS (
  SELECT event_type, hr, n, z, p,
         ROW_NUMBER() OVER (ORDER BY p, event_type, hr) AS rk,
         COUNT(*) OVER () AS mm
  FROM pvals
),
kstar AS (
  SELECT COALESCE(MAX(CASE WHEN p * mm <= {_BH_Q} * rk THEN rk END), 0) AS k
  FROM ranked
)
SELECT event_type, hr, n, z, p, rk,
       CAST(rk <= kstar.k AS INTEGER) AS rejected
FROM ranked, kstar
"""


@query("bh_fdr_correction", _BH_FDR_ORACLE, tags=("stats",))
def bh_fdr_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a many-cell
    anomaly scan: every (event_type, hour) cell is tested for mean shift
    against the corpus (one-sample z on exact integer-cent moments, the
    `ols_regression_fit` technique), then BH's step-up rule marks the
    largest prefix of the p-ordered cells with p_(i) <= q*i/m as
    discoveries — the multiple-testing correction every metrics-QA sweep
    needs once it tests hundreds of cells at once (per-test alpha would
    drown the pipeline in false alarms).

    The "p-value" is the Chernoff proxy exp(-z^2/2) — monotone in |z|,
    which is the only property BH's ORDERING needs; both engines compute
    it with one exp over a round-6 z, then round-6 again before the
    threshold comparison so the step-up decisions are bit-identical.

    Scale: the corpus-sized work is two map-side-combinable integer
    aggregations (per-cell and global); everything after operates on the
    |types| x 24 AGGREGATED cell table — the rank window runs over ~120
    rows (the plan-audit unpartitioned-window rule exempts aggregated
    inputs), and k* is a 1-row broadcast."""
    (events,) = T(spark, sf_dir, "events")
    m = events.select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )

    def mom(e):
        return F.sum(e.cast("decimal(38,0)")).cast("double")

    cells = m.groupBy("event_type", "hr").agg(
        F.count("*").alias("n"), mom(F.col("v")).alias("s1")
    )
    glob = m.agg(
        F.count("*").alias("gn"),
        mom(F.col("v")).alias("gs1"),
        mom(F.col("v") * F.col("v")).alias("gs2"),
    )
    gn = F.col("gn")
    z = F.round(
        (F.col("s1") / F.col("n") - F.col("gs1") / gn)
        / F.sqrt(
            ((gn * F.col("gs2") - F.col("gs1") * F.col("gs1")) / (gn * gn.cast("double")))
            / F.col("n")
        ),
        6,
    )
    pvals = (
        cells.crossJoin(F.broadcast(glob))
        .select("event_type", "hr", "n", z.alias("z"))
        .withColumn("p", F.round(F.exp(-(F.col("z") * F.col("z")) / F.lit(2.0)), 6))
    )
    pvals = cache_scoped(pvals)
    # the ranked frame is the aggregated ~|types|*24-row cell table
    from pyspark.sql import Window as W

    w = W.orderBy("p", "event_type", "hr")
    ranked = pvals.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(pvals.agg(F.count("*").alias("mm")))
    )
    ranked = cache_scoped(ranked)
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") * F.col("mm") <= F.lit(0.1) * F.col("rk"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        "hr",
        "n",
        "z",
        "p",
        "rk",
        (F.col("rk") <= F.col("k")).cast("int").alias("rejected"),
    )


# interpolate docstring constants (round-11 sweep)
stratified_sample_exact.__doc__ = stratified_sample_exact.__doc__.replace(
    "{_STRAT_K}", str(_STRAT_K)
)
approx_percentile_binned.__doc__ = approx_percentile_binned.__doc__.replace(
    "{_PCTBIN_B}", str(_PCTBIN_B)
)
