"""tools/measure.py: the sinks agree on row counts, the JVM CPU clock is
monotone and advances across a run, and a Python UDF's work shows in the
Python-worker CPU."""

from __future__ import annotations

from map_reduce485_spark.queries import REGISTRY, _load_all
from tools.measure import COLLECT, NOOP, Meter

from conftest import SF_SMOKE

_load_all()


def test_meter_sinks_and_cpu_clock(spark, tmp_path):
    meter = Meter(spark)
    meter.warm_up()
    fn = REGISTRY["q1_pricing_summary"].fn
    c0 = meter.jvm_cpu()
    collected = meter.run(fn, SF_SMOKE, COLLECT)
    written = meter.run(fn, SF_SMOKE, str(tmp_path / "sink"))
    computed = meter.run(fn, SF_SMOKE, NOOP)
    c1 = meter.jvm_cpu()

    assert collected.rows == written.rows > 0
    assert computed.rows is None
    for run in (collected, written, computed):
        assert run.wall > 0 and run.cpu >= 0 and run.py_cpu >= 0
    assert c1 > c0

    def python_udf(spark, _sf_dir):
        from pyspark.sql.functions import udf

        work = udf(lambda i: sum(range(i % 1000)), "long")
        return spark.range(20_000).select(work("id"))

    assert meter.run(python_udf, SF_SMOKE, NOOP).py_cpu > 0
