"""The catalog's schema registry: a table whose schema is known opens
without a Spark job, in any session of the process, and a rewritten source
is inferred again."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from map_reduce485_spark.catalog import load_table
from tests.conftest import SF_SMOKE


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs it ran), counted under a job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("cache", ["0", "1"])
def test_warm_load_table_runs_no_job(spark, monkeypatch, cache):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", cache)
    load_table(spark, SF_SMOKE, "region")
    other = spark.newSession()
    for session in (spark, other):
        df, jobs = _jobs(spark, lambda: load_table(session, SF_SMOKE, "region"))
        assert jobs == []
        assert df.count() == 5


def test_rewritten_source_is_inferred_again(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "0")
    src = tmp_path / "region.parquet"
    shutil.copy(f"{SF_SMOKE}/region.parquet", src)
    before = load_table(spark, str(tmp_path), "region")
    assert "r_extra" not in before.columns
    assert before.count() == 5

    t = pq.read_table(src).slice(0, 2)
    pq.write_table(t.append_column("r_extra", pa.array([7, 8], pa.int64())), src)
    after = load_table(spark, str(tmp_path), "region")
    assert after.columns == before.columns + ["r_extra"]
    assert after.count() == 2
    assert sorted(r.r_extra for r in after.collect()) == [7, 8]


def test_nanos_events_cold_and_warm(spark, monkeypatch, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS): the registry keeps the raw
    int64 schema, so the warm read takes the same nanos branch."""
    from pyspark.sql.types import TimestampType

    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "0")
    raw = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, 1_000]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(raw, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    cold, cold_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    warm, warm_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert cold_jobs  # the first read of a new source infers its schema
    assert warm_jobs == []
    for df in (cold, warm):
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got = df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id")
        assert [r.us for r in got.collect()] == [n // 1000 for n in raw]
