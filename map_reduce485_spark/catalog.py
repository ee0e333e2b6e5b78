"""Typed-table catalog over the driver's Parquet testdata.

The reference's only source is a directory of text files
(``manager/__main__.py:224``, ``worker/__main__.py:104``); Layer A keeps that.
This module is Layer B's typed-scan surface: Parquet scans that Catalyst can
push filters into and prune columns from.  At 100 TB the same code path works
unchanged — `spark.read.parquet` over a partitioned table directory; partition
pruning and predicate pushdown are what make scans scale, so all queries go
through here rather than hand-rolled readers.

A table opens without a Spark job once its schema is known: the first read
of a source infers it (a footer-reading job) and stores it process-wide under
the source's fingerprint, so later reads in any session pass it in.  A
rewritten source gets a new fingerprint and is inferred again.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def source_fingerprint(sf_dir: str, table: str) -> str:
    """12 hex digits of md5 over the source table's path and each of its
    files' name, size and mtime: regenerated source data gets a new
    fingerprint, so a dir named after it is never a stale replay."""
    src = Path(sf_dir) / f"{table}.parquet"
    files = sorted(p for p in src.rglob("*") if p.is_file()) if src.is_dir() else [src]
    h = hashlib.md5(f"{sf_dir}:{table}".encode())
    for f in files:
        st = f.stat()
        h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


# (source fingerprint, *values of _SCHEMA_CONFS) → inferred StructType.  A
# schema depends on the files and these reader confs, never on the session.
_SCHEMAS: dict[tuple[str, ...], StructType] = {}
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table, inferring its schema only on the first read."""
    path = table_path(sf_dir, name)
    key = (source_fingerprint(sf_dir, name), *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    if key in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[key]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


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
        df = _read(spark, sf_dir, name)
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
    df = _read(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):  # nanos read as raw int64
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Register the named tables, default all, as temp views (for the SQL
    surface)."""
    dfs = {name: load_table(spark, sf_dir, name) for name in names or TABLES}
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
