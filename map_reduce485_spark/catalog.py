"""Typed-table catalog over the driver's Parquet testdata.

The reference's only source is a directory of text files
(``manager/__main__.py:224``, ``worker/__main__.py:104``); Layer A keeps that.
This module is Layer B's typed-scan surface: Parquet scans that Catalyst can
push filters into and prune columns from.  At 100 TB the same code path works
unchanged — `spark.read.parquet` over a partitioned table directory; partition
pruning and predicate pushdown are what make scans scale, so all queries go
through here rather than hand-rolled readers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from map_reduce485_spark.session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region has 5
# rows, nation 25 — fixed size in TPC-H-style schemas regardless of SF).
ALWAYS_BROADCAST = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# (session id, sf_dir, table) → (session, cached DataFrame).  The
# correctness gate runs ~117 queries over the same ten small tables; caching
# the scans turns ~150 repeated parquet reads into in-memory columnar scans.
# The session rides along in the entry for the same reason as
# `session._TUNED`: a cached DataFrame bound to a dead session must never be
# returned to a new session that happens to reuse its id.  Opt-out via
# SPARK_GRAFT_CACHE_TABLES=0 (bench.py does, so measured numbers include the
# real scan).  At production scale this maps to the standard warm-table
# pattern (`spark.catalog.cacheTable` on dims that fit executor memory).
_TABLE_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


def _cache_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE_TABLES", "1") != "0"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    tune_session(spark)
    key = (id(spark), sf_dir.rstrip("/"), name)
    if _cache_enabled() and key in _TABLE_CACHE:
        owner, df = _TABLE_CACHE[key]
        if owner is spark:
            return df
    if name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    if _cache_enabled():
        df = df.cache()
        _TABLE_CACHE[key] = (spark, df)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as either TIMESTAMP(NANOS) or TIMESTAMP(MICROS)
    parquet across driver data generations, so the load is type-adaptive:

    - NANOS: Spark's vectorized reader rejects it outright.  Read nanos as
      raw int64 (legacy flag) and convert to a microsecond timestamp
      (truncating integer division — the same ns→us truncation DuckDB
      applies; double math would lose precision above 2^53 ns).
    - MICROS (no tz): arrives as TIMESTAMP_NTZ; cast to the session-local
      TIMESTAMP (session tz is pinned UTC by `session._sql_confs`) so
      downstream window/date math sees the identical dtype either way."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):  # nanos read as raw int64
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run an ANSI-SQL query against the catalog tables (the engine's SQL
    entry point: every table registered as a view, then Catalyst plans the
    statement exactly like the DataFrame API — same optimizer, same scans).
    """
    register_views(spark, sf_dir)
    return spark.sql(query)
