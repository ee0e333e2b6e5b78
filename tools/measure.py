"""The measurement pieces shared by bench.py and the tools/ harnesses.

Each harness keeps its own protocol (how many runs, which statistic, which
drift gate) and takes these pieces from one :class:`Meter`:

- ``warm_up``: an untimed trivial action, so query timings measure the
  queries, not JVM and codegen bring-up;
- ``jvm_cpu``: the driver JVM's user+system CPU seconds from
  ``/proc/<pid>/stat`` (in local mode the executors are threads of that
  JVM, so this counts the work done, not hypervisor luck);
- ``run``: one timed build-and-execute of a query builder to a sink;
- ``calibrate``: a fixed CPU-bound query whose time stamps box speed into
  an artifact, so a drift gate can divide machine state out;
- ``release``: the between-query release of scoped caches plus a JVM GC,
  so one query's storage and GC debt does not bleed into the next.

A per-stage record (planning phases, stage metrics) belongs here too, as
another field of :class:`Run`, not in a second module.
"""

from __future__ import annotations

import os
import time
from typing import Callable, NamedTuple

from map_reduce485_spark.queries._util import release_scoped_caches

# Sinks for Meter.run; any other string is a directory for the parquet sink.
NOOP = "noop"  # computation only: no driver collect, no file output
COLLECT = "collect"  # rows come back to the driver (the interactive contract)


class Run(NamedTuple):
    wall: float  # seconds, building the DataFrame included
    cpu: float  # driver-JVM CPU seconds
    rows: int | None  # None for the noop sink


class Meter:
    def __init__(self, spark) -> None:
        self.spark = spark
        self._stat = f"/proc/{int(spark._jvm.ProcessHandle.current().pid())}/stat"
        self._tick = os.sysconf("SC_CLK_TCK")

    def warm_up(self) -> None:
        self.spark.range(1000).selectExpr("sum(id)").collect()

    def jvm_cpu(self) -> float:
        with open(self._stat) as f:
            # fields after the parenthesised command name; 11 and 12 are
            # utime and stime in clock ticks
            parts = f.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / self._tick

    def run(self, fn: Callable, sf_dir: str, sink: str) -> Run:
        """Build ``fn(spark, sf_dir)`` and execute it to ``sink``.

        The parquet sink counts rows from the written files' metadata: it
        is for outputs that are distributed intermediates no real pipeline
        collects, and that at 10x exceed spark.driver.maxResultSize."""
        c0, t0 = self.jvm_cpu(), time.perf_counter()
        df = fn(self.spark, sf_dir)
        if sink == NOOP:
            df.write.format("noop").mode("overwrite").save()
            rows = None
        elif sink == COLLECT:
            rows = len(df.collect())
        else:
            df.write.mode("overwrite").parquet(sink)
            rows = self.spark.read.parquet(sink).count()
        return Run(time.perf_counter() - t0, self.jvm_cpu() - c0, rows)

    def calibrate(self) -> float:
        """Best-of-3 seconds of the calibration query, codegen pre-warmed."""

        def best_of_3() -> float:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                # modulo keeps the running sum ~5e13 << 2^63 (ANSI mode
                # overflows a plain sum(id*id) at this row count)
                self.spark.range(50_000_000).selectExpr("sum(id % 1000003) as s").collect()
                runs.append(time.perf_counter() - t0)
            return round(min(runs), 3)

        best_of_3()
        return best_of_3()

    def release(self) -> None:
        release_scoped_caches()
        self.spark._jvm.System.gc()
