"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what we would set on a real cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  at 100 TB this is what keeps a bad static plan from melting down.
- ``spark.sql.shuffle.partitions`` sized to the core count locally; on a
  1000-executor cluster this would be ~2-3x total cores (AQE coalesces down).
- Arrow enabled so any Pandas-UDF path is batch-vectorized, never per-row.
- UTC session timezone so timestamp semantics are reproducible against the
  DuckDB oracle and across clusters.
- Python workers start through :mod:`map_reduce485_spark.daemon`, which
  keeps PySpark from re-reading Spark's zip and jar on every task; the
  package's parent directory is on the workers' ``PYTHONPATH``, so they
  import it from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The directory holding the package, for the workers' PYTHONPATH.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sql_confs(cpus: int, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's runtime-settable SQL confs — the one list, set at build
    time by :func:`get_spark` and at first use by :func:`tune_session`."""
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # timestamp formatting must agree with the (timezone-naive) DuckDB oracle
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


# Sessions already tuned.  Keyed by id() but holding a strong reference to
# the session: a bare id-set could false-hit if a stopped session were
# garbage-collected and a new one reused its id (silently skipping the UTC
# timezone the oracles depend on); pinning the object makes id reuse
# impossible while the entry exists, and the identity check guards the
# lookup.
_TUNED: dict[int, SparkSession] = {}


def tune_session(spark: SparkSession) -> None:
    """Apply :func:`_sql_confs` to a session this module did not build.  The
    driver constructs a *plain* SparkSession (200 shuffle partitions, 10 MB
    broadcast threshold); on local[32] over test-SF data that default
    multiplies pure task-scheduling overhead across every gate query.
    Sessions from :func:`get_spark` are already tuned with the partitions
    they were asked for, and are left alone."""
    if _TUNED.get(id(spark)) is spark:
        return
    for k, v in _sql_confs(_default_cpus()).items():
        spark.conf.set(k, v)
    _TUNED[id(spark)] = spark


def get_spark(
    app_name: str = "map_reduce485_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    """
    if cpus is None:
        cpus = _default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=_sql_confs(cpus, shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # bucketed tables (co-located joins) land here, not in the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/mr485_spark_warehouse")
        .config("spark.python.daemon.module", "map_reduce485_spark.daemon")
    )
    if extra_conf:
        builder = builder.config(map=extra_conf)
    pythonpath = (extra_conf or {}).get("spark.executorEnv.PYTHONPATH", "")
    paths = [p for p in pythonpath.split(os.pathsep) if p]
    if _ENGINE_ROOT not in paths:
        paths.append(_ENGINE_ROOT)
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(paths))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _TUNED[id(spark)] = spark
    return spark
