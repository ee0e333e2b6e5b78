"""Source-format surface: CSV and JSON-lines readers proven inside the gate.

The reference reads exactly one format — line-oriented text
(``manager/__main__.py:224``, ``worker/__main__.py:104``); Parquet/CSV/JSON
typed scans are the Layer-B upgrade (`sources/io.py`).  Each query here
round-trips a catalog table through the format under test (write to a
scratch dir, read back with an EXPLICIT schema — no inference pass, which
at 100 TB would be a full extra read) and aggregates; the oracle computes
the same aggregate from the original parquet.  A lossy writer, a wrong
schema mapping, or a quoting/escaping bug all surface as a hash mismatch.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce485_spark.catalog import source_fingerprint
from map_reduce485_spark.queries import query
from map_reduce485_spark.queries._util import T as tables, published_dir, scratch_dir_scoped
from map_reduce485_spark.sources.io import read_csv, read_json


def _versions_base(spark: SparkSession, sf_dir: str) -> Path:
    """The immutable v1/v2 snapshot dirs used by `versioned_snapshot_read` /
    `snapshot_diff`, plus the `_latest` pointer, published once per source
    fingerprint of supplier (`_util.published_dir`)."""
    (supplier,) = tables(spark, sf_dir, "supplier")

    def build(tmp: str) -> None:
        v1 = supplier.filter(F.col("s_suppkey") % 2 == 0).select(
            "s_suppkey", "s_acctbal"
        )
        v2 = supplier.select(
            "s_suppkey",
            F.when(F.col("s_suppkey") % 2 == 0, F.col("s_acctbal") * 2)
            .otherwise(F.col("s_acctbal"))
            .alias("s_acctbal"),
        )
        v1.write.parquet(f"{tmp}/v1")
        v2.write.parquet(f"{tmp}/v2")
        Path(tmp, "_latest").write_text("v2")

    fp = source_fingerprint(sf_dir, "supplier")
    return Path(published_dir(f"mr485_src_versions_{fp}", build))


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

_SUPPLIER_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)


@query(
    "csv_source_roundtrip",
    """
    SELECT n_regionkey, COUNT(*) AS n_nations,
           MIN(n_name) AS first_name, MAX(n_nationkey) AS max_key
    FROM nation GROUP BY n_regionkey
    """,
    tags=("sources",),
)
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV reader surface: nation → CSV (quoted as needed) → explicit-schema
    read (`sources/io.read_csv`) → aggregate.  The oracle aggregates the
    original parquet, so the round-trip must be lossless."""
    (nation,) = tables(spark, sf_dir, "nation")
    path = scratch_dir_scoped("mr485_src_csv_")
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = read_csv(spark, path, _NATION_SCHEMA, header=True)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.max("n_nationkey").alias("max_key"),
    )


@query(
    "json_source_roundtrip",
    """
    SELECT s_nationkey, COUNT(*) AS n_suppliers,
           SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("sources",),
)
def json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines reader surface: supplier → JSON → explicit-schema read
    (`sources/io.read_json`) → aggregate.  Doubles round-trip exactly
    (Spark writes shortest-round-trip representations); the cents-sum makes
    the aggregate order-independent as everywhere else."""
    (supplier,) = tables(spark, sf_dir, "supplier")
    path = scratch_dir_scoped("mr485_src_json_")
    supplier.select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    ).write.mode("overwrite").json(path)
    back = read_json(spark, path, _SUPPLIER_SCHEMA)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        (F.sum(F.round(F.col("s_acctbal") * 100).cast("long")) / 100.0).alias("total_bal"),
    )


_PRUNED_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY event_type
"""


@query("partition_pruned_scan", _PRUNED_ORACLE, tags=("sources", "layout"))
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-partition pruning end to end: events written partitioned by
    event_date (`sources/io.write_partitioned_parquet`), read back with a
    one-week date predicate that must prune to 7 directories, aggregated.

    This is THE scan discipline at 100 TB — a date-partitioned event table
    is read by partition directory, not by file scan + filter; the oracle
    computes the same week from the unpartitioned source, so a broken
    date derivation or a partition column that silently changes type shows
    up as a hash mismatch.  `tests/test_plans.py` additionally pins that
    the plan prunes (scans 7 partitions, not all)."""
    from map_reduce485_spark.sources.io import write_partitioned_parquet

    (events,) = tables(spark, sf_dir, "events")
    path = published_dir(
        f"mr485_src_events_by_date_{source_fingerprint(sf_dir, 'events')}",
        lambda tmp: write_partitioned_parquet(
            events.withColumn("event_date", F.to_date("ts")),
            tmp,
            partition_by=["event_date"],
        ),
    )
    back = spark.read.parquet(path).filter(
        F.col("event_date").between("2024-01-08", "2024-01-14")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
    )


_ZORDER_ORACLE = """
SELECT COUNT(*) AS n_rows,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM lineitem
WHERE l_orderkey BETWEEN 1000 AND 3000
  AND l_partkey BETWEEN 500 AND 1500
"""


@query("zorder_multidim_filter", _ZORDER_ORACLE, tags=("sources", "layout"))
def zorder_multidim_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout end to end: lineitem rewritten clustered on the
    (l_orderkey, l_partkey) Morton curve (`operators/zorder.zorder_write`),
    then a two-dimensional range predicate reads it back and aggregates.

    This is Delta/Iceberg's `OPTIMIZE ... ZORDER BY` as an engine operator:
    every output file covers a compact rectangle of (orderkey, partkey)
    space, so min/max stats prune files on BOTH columns (measured pruning
    in `tests/test_zorder.py`).  The oracle aggregates the same predicate
    from the raw table — a layout rewrite that loses or duplicates rows
    hash-mismatches here."""
    from map_reduce485_spark.operators.zorder import zorder_write

    (li,) = tables(spark, sf_dir, "lineitem")
    path = published_dir(
        f"mr485_src_lineitem_zorder_{source_fingerprint(sf_dir, 'lineitem')}",
        lambda tmp: zorder_write(li, tmp, "l_orderkey", "l_partkey", n_files=8),
    )
    back = spark.read.parquet(path).filter(
        F.col("l_orderkey").between(1000, 3000)
        & F.col("l_partkey").between(500, 1500)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0).alias(
            "sum_price"
        ),
    )


_COMPACT_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
FROM orders GROUP BY o_orderpriority
"""


@query("compact_small_files", _COMPACT_ORACLE, tags=("sources", "layout"))
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end to end: orders deliberately shattered into
    64 tiny files (the classic streaming-ingest pathology — at 100 TB,
    millions of small files turn scans into metadata storms), compacted to
    size-targeted files (`operators/compact.compact`), aggregated from the
    compacted copy against an oracle over the original table.

    Checks the property that matters: compaction is a pure layout change —
    same rows, same values, fewer files (file-count assertions live in
    `tests/test_compact.py`)."""
    from map_reduce485_spark.operators.compact import compact

    (orders,) = tables(spark, sf_dir, "orders")

    def build(tmp: str) -> None:
        frag = scratch_dir_scoped("mr485_src_orders_fragmented_")
        orders.repartition(64).write.mode("overwrite").parquet(frag)
        compact(spark, frag, tmp, target_mb=128)

    fp = source_fingerprint(sf_dir, "orders")
    comp = published_dir(f"mr485_src_orders_compacted_{fp}", build)
    return (
        spark.read.parquet(comp)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias(
                "total"
            ),
        )
    )


@query(
    "orc_source_roundtrip",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal,
           MAX(c_custkey) AS max_key
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("sources",),
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC reader/writer surface: customer → ORC → native columnar read →
    aggregate (`sources/io.read_orc`).  ORC carries its own schema and
    stripe-level min/max statistics, so at scale it prunes like parquet;
    the oracle aggregates the original parquet, making the round-trip
    lossless-or-hash-mismatch.  DuckDB cannot read ORC, which is exactly
    why the check aggregates rather than diffing files."""
    from map_reduce485_spark.sources.io import read_orc

    (customer,) = tables(spark, sf_dir, "customer")
    path = scratch_dir_scoped("mr485_src_orc_")
    customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    ).write.mode("overwrite").orc(path)
    back = read_orc(spark, path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0).alias("total_bal"),
        F.max("c_custkey").alias("max_key"),
    )


@query(
    "schema_evolution_scan",
    """
    WITH unioned AS (
      SELECT s_suppkey, s_nationkey, s_acctbal, NULL AS s_tier
      FROM supplier WHERE s_suppkey % 2 = 0
      UNION ALL
      SELECT s_suppkey, s_nationkey, s_acctbal,
             CASE WHEN s_acctbal >= 0 THEN 'standard' ELSE 'watch' END AS s_tier
      FROM supplier WHERE s_suppkey % 2 = 1
    )
    SELECT s_nationkey, COALESCE(s_tier, 'unknown') AS tier,
           COUNT(*) AS n_suppliers,
           SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
    FROM unioned GROUP BY s_nationkey, COALESCE(s_tier, 'unknown')
    """,
    tags=("sources",),
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet generations: an old writer emitted
    supplier rows WITHOUT `s_tier`, a newer writer added it; one
    `mergeSchema` scan reads both generations, null-filling the missing
    column in old files — the drift pattern every long-lived 100 TB
    dataset hits (column added mid-history, no rewrite of old partitions).

    Written as two real parquet generations in one directory, read back
    through a single merged-schema scan + aggregate; the oracle rebuilds
    both generations with UNION ALL from the catalog table, so a dropped
    generation, mis-merged column, or wrong null-fill breaks the hash.
    `mergeSchema` costs a footer read per file, not a data pass — at scale
    pin the canonical schema in a catalog and read with it explicitly."""
    (supplier,) = tables(spark, sf_dir, "supplier")
    path = scratch_dir_scoped("mr485_src_evolve_")
    old_gen = supplier.filter(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    new_gen = supplier.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.when(F.col("s_acctbal") >= 0, "standard").otherwise("watch").alias("s_tier"),
    )
    old_gen.write.mode("overwrite").parquet(path)
    new_gen.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy(
        "s_nationkey", F.coalesce("s_tier", F.lit("unknown")).alias("tier")
    ).agg(
        F.count("*").alias("n_suppliers"),
        (F.sum(F.round(F.col("s_acctbal") * 100).cast("long")) / 100.0).alias("total_bal"),
    )


@query(
    "csv_corrupt_records",
    """
    SELECT CASE WHEN n_nationkey % 3 = 0 THEN 'corrupt' ELSE 'good' END AS status,
           COUNT(*) AS n_rows,
           COALESCE(CAST(SUM(CASE WHEN n_nationkey % 3 <> 0 THEN n_regionkey END)
                          AS BIGINT), 0) AS good_regionkey_sum
    FROM nation
    GROUP BY CASE WHEN n_nationkey % 3 = 0 THEN 'corrupt' ELSE 'good' END
    """,
    tags=("sources",),
)
def csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record handling on ingestion: a CSV where every third row is
    deliberately malformed (a non-numeric token in the int n_regionkey
    column — unambiguous on any parser), read in PERMISSIVE mode
    with a `_corrupt_record` column; good rows parse, corrupt rows land
    intact in the quarantine column instead of killing the job — the
    posture a 100 TB ingest MUST run with, because some file somewhere is
    always broken.  The oracle derives the expected classification from
    the catalog table and the corruption rule (not by parsing CSV), so
    the gate checks that PERMISSIVE classified every row correctly and
    parsed the good rows' values."""
    (nation,) = tables(spark, sf_dir, "nation")
    path = scratch_dir_scoped("mr485_src_corrupt_")
    # hand-format lines; every 3rd key gets a non-numeric n_regionkey
    lines = nation.select(
        F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            "n_name",
            F.when(F.col("n_nationkey") % 3 == 0, F.lit("NOT_A_NUMBER")).otherwise(
                F.col("n_regionkey").cast("string")
            ),
        ).alias("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return (
        back.select(
            F.when(F.col("_corrupt_record").isNotNull(), "corrupt")
            .otherwise("good")
            .alias("status"),
            F.when(F.col("_corrupt_record").isNull(), F.col("n_regionkey")).alias(
                "good_rk"
            ),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.coalesce(F.sum("good_rk").cast("long"), F.lit(0)).alias(
                "good_regionkey_sum"
            ),
        )
    )


@query(
    "versioned_snapshot_read",
    """
    SELECT 1 AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT 2, COUNT(*),
           CAST(SUM(CAST(ROUND(
             CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal * 2 ELSE s_acctbal END * 100
           ) AS BIGINT)) AS BIGINT)
    FROM supplier
    """,
    tags=("sources",),
)
def versioned_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel on plain parquet: each commit
    writes an immutable `v<N>` directory plus an atomically-renamed
    `_latest` pointer — the minimal form of the version-manifest scheme
    Delta/Iceberg formalize.  Version 2 both UPDATES rows (doubles even
    keys' balances) and INSERTS the odd-key rows; version 1 stays
    byte-identical and readable AFTER the v2 commit, which is the whole
    point: readers pin a snapshot while writers advance the pointer
    (`_merge_swap_parquet` is the same idea for a single mutable table).
    The gate reads BOTH versions after both commits and checks each
    against its independently-derived oracle.  The version dirs are
    published once per source fingerprint (`_versions_base`)."""
    base = _versions_base(spark, sf_dir)

    def read_version(v: int):
        return spark.read.parquet(str(base / f"v{v}"))

    out = None
    for v in (1, 2):
        agg = read_version(v).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("bal_cents"),
        ).select("version", "n_rows", "bal_cents")
        out = agg if out is None else out.unionAll(agg)
    return out


@query(
    "snapshot_diff",
    """
    WITH v1 AS (
      SELECT s_suppkey, s_acctbal FROM supplier WHERE s_suppkey % 2 = 0
    ),
    v2 AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal * 2 ELSE s_acctbal END
               AS s_acctbal
      FROM supplier
    ),
    d AS (
      SELECT CASE WHEN v1.s_suppkey IS NULL THEN 'insert'
                  WHEN ROUND(v1.s_acctbal * 100) <> ROUND(v2.s_acctbal * 100)
                    THEN 'update'
                  ELSE 'unchanged' END AS change
      FROM v1 FULL OUTER JOIN v2 ON v1.s_suppkey = v2.s_suppkey
    )
    SELECT change, COUNT(*) AS n_rows FROM d GROUP BY change
    """,
    tags=("sources", "etl"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed DERIVATION between two table versions: a full
    outer join of the v1/v2 snapshots (from `versioned_snapshot_read`'s
    immutable version dirs) classified into insert/update/unchanged — how
    a engine without a native change feed reconstructs one from
    snapshots (`table_changes` for plain parquet).  Values compare in
    integer cents so the classification is exact; the join key carries
    the one shuffle and both sides prune to (key, value) columns."""
    base = _versions_base(spark, sf_dir)  # share versioned_snapshot_read's dirs

    v1 = spark.read.parquet(str(base / "v1")).select(
        F.col("s_suppkey").alias("k1"), F.col("s_acctbal").alias("b1")
    )
    v2 = spark.read.parquet(str(base / "v2")).select(
        F.col("s_suppkey").alias("k2"), F.col("s_acctbal").alias("b2")
    )
    d = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer").select(
        F.when(F.col("k1").isNull(), "insert")
        .when(
            F.round(F.col("b1") * 100) != F.round(F.col("b2") * 100), "update"
        )
        .otherwise("unchanged")
        .alias("change")
    )
    return d.groupBy("change").agg(F.count("*").alias("n_rows"))


_SCD2_ORACLE = """
WITH v1 AS (
  SELECT s_suppkey, CAST(ROUND(s_acctbal * 100) AS BIGINT) AS c1
  FROM supplier WHERE s_suppkey % 2 = 0
),
v2 AS (
  SELECT s_suppkey,
         CAST(ROUND(CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal * 2
                         ELSE s_acctbal END * 100) AS BIGINT) AS c2
  FROM supplier
)
SELECT v1.s_suppkey, v1.c1 AS bal_cents,
       CAST(1 AS BIGINT) AS version_start,
       CAST(2 AS BIGINT) AS version_end,
       0 AS is_current
FROM v1 JOIN v2 ON v1.s_suppkey = v2.s_suppkey AND v1.c1 <> v2.c2
UNION ALL
SELECT v2.s_suppkey, v2.c2,
       CAST(CASE WHEN v1.s_suppkey IS NULL OR v1.c1 <> v2.c2 THEN 2 ELSE 1 END
            AS BIGINT),
       CAST(NULL AS BIGINT),
       1
FROM v2 LEFT JOIN v1 ON v1.s_suppkey = v2.s_suppkey
"""


@query("scd2_dimension_build", _SCD2_ORACLE, tags=("sources", "etl"))
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 derivation from the v1/v2
    snapshots (`_versions_base`): changed keys get a CLOSED row
    (version_start=1, version_end=2, is_current=0) plus a new current
    row; inserted keys get a current row starting at v2; unchanged keys
    (possible when a balance is exactly 0 — doubling changes nothing)
    keep ONE current row starting at v1.  This is the dimension-table
    maintenance pattern every warehouse ETL runs; `snapshot_diff` is its
    change-feed sibling, this materializes the full validity-interval
    history.  Values compare in integer cents so change detection is
    exact; one full-outer-shaped join on the key carries the shuffle."""
    base = _versions_base(spark, sf_dir)
    v1 = spark.read.parquet(str(base / "v1")).select(
        F.col("s_suppkey").alias("k1"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("c1"),
    )
    v2 = spark.read.parquet(str(base / "v2")).select(
        F.col("s_suppkey").alias("k2"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("c2"),
    )
    closed = (
        v1.join(v2, (F.col("k1") == F.col("k2")) & (F.col("c1") != F.col("c2")))
        .select(
            F.col("k1").alias("s_suppkey"),
            F.col("c1").alias("bal_cents"),
            F.lit(1).cast("long").alias("version_start"),
            F.lit(2).cast("long").alias("version_end"),
            F.lit(0).cast("int").alias("is_current"),
        )
    )
    current = (
        v2.join(v1, F.col("k1") == F.col("k2"), "left")
        .select(
            F.col("k2").alias("s_suppkey"),
            F.col("c2").alias("bal_cents"),
            F.when(F.col("k1").isNull() | (F.col("c1") != F.col("c2")), 2)
            .otherwise(1)
            .cast("long")
            .alias("version_start"),
            F.lit(None).cast("long").alias("version_end"),
            F.lit(1).cast("int").alias("is_current"),
        )
    )
    return closed.unionAll(current)



_PYDS_N = 100_000

_PYDS_ORACLE = f"""
SELECT CAST(id % 16 AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM((id * id) % 97) AS BIGINT) AS sum_units,
       CAST(SUM((id * id) % 97) AS DOUBLE) / COUNT(*) / 97.0 AS avg_score
FROM (SELECT UNNEST(generate_series(0, {_PYDS_N - 1})) AS id)
GROUP BY 1
"""


@query("python_datasource_scan", _PYDS_ORACLE, tags=("source",))
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a CUSTOM PYTHON DATA SOURCE (Spark 4 DataSource API,
    `sources/pyds.py`): partition planning on the driver, per-partition
    Arrow-batched `read` on executors — the pluggable-source contract that
    lets this engine ingest bespoke feeds (an internal API, a proprietary
    format) with the same DataFrame surface as parquet.  The source
    synthesizes rows from closed-form integer expressions, so the oracle
    replays the exact multiset with `generate_series`: a partition-
    boundary bug (row lost/duplicated at a split edge) or a skipped
    partition breaks the count AND the exact integer sum.  The aggregate
    runs on 16 buckets; the scan itself is 32-way parallel."""
    from map_reduce485_spark.sources.pyds import register

    register(spark)
    src = (
        spark.read.format("mr485_synthetic")
        .option("n", _PYDS_N)
        .option("partitions", 32)
        .load()
    )
    return src.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("score_units").alias("sum_units"),
        (
            F.sum("score_units").cast("double") / F.count("*") / 97.0
        ).alias("avg_score"),
    )


_IVM_ORACLE = """
WITH v2 AS (
  SELECT s_suppkey,
         CAST(ROUND(
           CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal * 2 ELSE s_acctbal END * 100
         ) AS BIGINT) AS cents
  FROM supplier
),
direct AS (
  SELECT s_suppkey % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(cents) AS BIGINT) AS bal_cents
  FROM v2 GROUP BY 1
)
SELECT bucket, n_rows, bal_cents,
       n_rows AS n_rows_direct, bal_cents AS bal_cents_direct
FROM direct
"""


@query("incremental_view_maintenance", _IVM_ORACLE, tags=("sources", "etl"))
def incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE over the snapshot pair: the per-bucket
    (count, exact-cents sum) aggregate of v2 is NOT recomputed from v2 —
    it is the v1 aggregate plus the change feed's algebraic delta
    (insert → +1/+b₂, update → +0/+(b₂−b₁), delete → −1/−b₁), the
    classic self-maintainable
    (SUM, COUNT) view algebra that turns a 100 TB re-aggregation into
    work proportional to the CHANGES.  The query emits the maintained
    aggregate NEXT TO the directly-computed v2 aggregate; the oracle
    asserts both pairs equal — any error in the delta algebra (a missed
    insert class, a sign error on updates) breaks the hash.  Both the
    base aggregate and the delta shuffle on the same bucket key; the diff
    join is the `snapshot_diff` full-outer on the snapshot key."""
    base = _versions_base(spark, sf_dir)
    v1 = spark.read.parquet(str(base / "v1")).select(
        "s_suppkey", F.round(F.col("s_acctbal") * 100).cast("long").alias("cents")
    )
    v2 = spark.read.parquet(str(base / "v2")).select(
        "s_suppkey", F.round(F.col("s_acctbal") * 100).cast("long").alias("cents")
    )
    bucket = (F.col("s_suppkey") % 10).alias("bucket")
    base_agg = v1.groupBy(bucket).agg(
        F.count("*").alias("n1"), F.sum("cents").alias("s1")
    )
    d = v1.select(F.col("s_suppkey").alias("k1"), F.col("cents").alias("c1")).join(
        v2.select(F.col("s_suppkey").alias("k2"), F.col("cents").alias("c2")),
        F.col("k1") == F.col("k2"),
        "full_outer",
    )
    delta = (
        d.select(
            F.coalesce(F.col("k2"), F.col("k1")).alias("k"),
            # insert → +1, delete → −1, update → 0 (full (SUM, COUNT)
            # self-maintenance algebra; the snapshot pair currently contains
            # no deletes, but a missing delete branch would silently diverge
            # the maintained aggregate on a real change feed)
            F.when(F.col("k1").isNull(), F.lit(1))
            .when(F.col("k2").isNull(), F.lit(-1))
            .otherwise(F.lit(0))
            .alias("dn"),
            F.when(F.col("k1").isNull(), F.col("c2"))
            .when(F.col("k2").isNull(), -F.col("c1"))
            .otherwise(F.col("c2") - F.col("c1"))
            .alias("dc"),
        )
        .groupBy((F.col("k") % 10).alias("bucket"))
        .agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    )
    maintained = (
        base_agg.join(delta, "bucket", "full_outer")
        .select(
            "bucket",
            (F.coalesce(F.col("n1"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias("n_rows"),
            (F.coalesce(F.col("s1"), F.lit(0)) + F.coalesce(F.col("dc"), F.lit(0))).alias("bal_cents"),
        )
    )
    direct = v2.groupBy(bucket).agg(
        F.count("*").alias("n_rows_direct"),
        F.sum("cents").alias("bal_cents_direct"),
    )
    return maintained.join(direct, "bucket")


from map_reduce485_spark.queries import REGISTRY as _REG

_PIT_ORACLE = f"""
WITH dim AS ({_REG["scd2_dimension_build"].oracle}),
facts AS (
  SELECT l_suppkey,
         CASE WHEN l_shipdate < DATE '1995-06-01' THEN 1 ELSE 2 END AS as_of_version,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
  FROM lineitem
)
SELECT f.as_of_version, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(f.price_cents) AS BIGINT) AS price_cents,
       CAST(SUM(d.bal_cents) AS BIGINT) AS dim_bal_cents
FROM facts f
JOIN dim d
  ON d.s_suppkey = f.l_suppkey
 AND d.version_start <= f.as_of_version
 AND (d.version_end IS NULL OR f.as_of_version < d.version_end)
GROUP BY f.as_of_version
"""


@query("scd2_point_in_time_join", _PIT_ORACLE, tags=("sources", "etl", "join"))
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME enrichment against the SCD2 dimension — the read
    side that justifies `scd2_dimension_build`'s write side: every fact
    row joins the dimension VERSION that was current as of the fact's
    epoch (early shipments see the v1 balance, late ones the v2 one),
    never today's value — the temporal-correctness join that prevents
    feature leakage in training data (enriching history with future
    attribute values).  The oracle embeds the registered SCD2 oracle as
    a CTE, so the two stay in lockstep.  Equi-key (suppkey) carries the
    shuffle; the validity predicate filters within each key's ≤2
    versions — same plan class as `interval_join_attribution`."""
    dim = scd2_dimension_build(spark, sf_dir)
    (li,) = tables(spark, sf_dir, "lineitem")
    facts = li.select(
        "l_suppkey",
        F.when(F.col("l_shipdate") < F.lit("1995-06-01").cast("date"), 1)
        .otherwise(2)
        .alias("as_of_version"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
    )
    joined = facts.join(
        dim,
        (F.col("s_suppkey") == F.col("l_suppkey"))
        & (F.col("version_start") <= F.col("as_of_version"))
        & (
            F.col("version_end").isNull()
            | (F.col("as_of_version") < F.col("version_end"))
        ),
    )
    return joined.groupBy("as_of_version").agg(
        F.count("*").alias("n_items"),
        F.sum("price_cents").alias("price_cents"),
        F.sum("bal_cents").alias("dim_bal_cents"),
    )


_PYSS_ORACLE = """
SELECT CAST(id % 16 AS INT) AS k, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM((id * id) % 9973) AS BIGINT) AS sum_cents
FROM (SELECT UNNEST(generate_series(0, 1999)) AS id)
GROUP BY 1
"""


@query(
    "streaming_python_source_gate", _PYSS_ORACLE, tags=("source", "streaming")
)
def streaming_python_source_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON STREAMING SOURCE under the hash gate (13th gated
    streaming run): a `SimpleDataSourceStreamReader` feed
    (`sources/pyds.py`) drained through TEN successive availableNow runs
    sharing one checkpoint — each run consumes exactly one offset step
    (200 rows), commits {"pos"} to the offset log, and the next run
    RESUMES from it, so what is witnessed is the full offset lifecycle
    (initialOffset → read → commit → recover) of a driver-tracked Python
    source, plus complete-mode aggregation state surviving across query
    RESTARTS (the state store under the shared checkpoint).  The final
    complete-mode table must equal the batch aggregate over all 2000
    synthetic rows — any lost/duplicated offset range breaks count and
    exact integer sum.  Checkpoint is process-unique, so every invocation
    replays the full schedule deterministically."""
    import os

    from map_reduce485_spark.sources.pyds import (
        STREAM_N,
        STREAM_STEP,
        register,
    )

    register(spark)
    ckpt = scratch_dir_scoped("mr485_pyss_ckpt_")
    agg = (
        spark.readStream.format("mr485_synthetic_stream")
        .load()
        .groupBy(F.col("k"))
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )
    name = f"pyss_gate_{os.getpid()}_{abs(hash(ckpt)) % 10_000_000}"
    for _ in range(STREAM_N // STREAM_STEP):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


_JSON_NESTED_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM orders GROUP BY o_orderpriority
"""


@query("json_nested_extract", _JSON_NESTED_ORACLE, tags=("sources", "semistructured"))
def json_nested_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-STRUCTURED surface: every order is serialized to a nested JSON
    document (`to_json(struct(...))` — the shape events arrive in from app
    logs / Kafka payloads), then parsed back through BOTH extraction APIs —
    `from_json` with an explicit nested schema (the typed bulk path: one
    parse per row, columnar after) and `get_json_object` with a JSONPath
    (the ad-hoc single-field path) — and aggregated.  The oracle states the
    aggregate over the base table directly, so any value the JSON
    round-trip mangles (long precision, nested field routing, decimal
    formatting) breaks the hash.  Scale: parsing is per-row JVM work with
    no shuffle; the single groupBy shuffles ~|priorities| per-partition
    partials.  A production pipeline points `schema_of_json`-derived
    schemas at the same plan."""
    (orders,) = tables(spark, sf_dir, "orders")
    j = orders.select(
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.struct(
                    F.col("o_orderpriority").alias("p"),
                    F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
                ).alias("meta"),
            )
        ).alias("doc")
    )
    parsed = j.select(
        F.from_json(
            "doc", "k LONG, meta STRUCT<p: STRING, cents: LONG>"
        ).alias("s"),
        F.get_json_object("doc", "$.meta.p").alias("priority"),
    )
    return parsed.groupBy("priority").agg(
        F.count("*").alias("n_orders"),
        F.sum("s.k").alias("key_sum"),
        F.sum("s.meta.cents").alias("price_cents"),
    )


@query(
    "xml_source_roundtrip",
    """
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_name, CAST(MAX(n_nationkey) AS BIGINT) AS max_key
    FROM nation GROUP BY n_regionkey
    """,
    tags=("sources",),
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML reader/writer surface (built into Spark 4 — the feed format
    enterprise integrations still exchange): nation → XML row documents →
    explicit-schema read → aggregate, oracle on the original parquet so
    element naming, escaping, and numeric round-tripping must all be
    lossless.  Schema is explicit (`rowTag` + StructType) — XML schema
    inference at 100 TB would be a full extra pass, same discipline as
    the CSV/JSON readers."""
    (nation,) = tables(spark, sf_dir, "nation")
    path = scratch_dir_scoped("mr485_src_xml_")
    nation.write.mode("overwrite").format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(
            T.StructType(
                [
                    T.StructField("n_nationkey", T.LongType()),
                    T.StructField("n_name", T.StringType()),
                    T.StructField("n_regionkey", T.IntegerType()),
                ]
            )
        )
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.max("n_nationkey").alias("max_key"),
    )
