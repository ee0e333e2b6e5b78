"""Per-layer records of traced operations, taken from outside the package.

Nothing in ``map_reduce485_spark`` is instrumented.  A traced operation runs
under its own Spark job group; afterwards the tracer reads that group's jobs
and stages from Spark's status store.  Calls into ``catalog.load_table`` are
timed by rebinding the public function wherever the package bound it, and
the caller times the other layer boundaries it crosses itself.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager

MB = 1e6


def _stage_record(jstage) -> dict:
    sub, done = jstage.submissionTime(), jstage.completionTime()
    wall = (done.get().getTime() - sub.get().getTime()) / 1e3 if done.isDefined() and sub.isDefined() else 0.0
    return {
        "wall_s": wall,
        "tasks": jstage.numTasks(),
        "run_s": jstage.executorRunTime() / 1e3,
        "jvm_cpu_s": jstage.executorCpuTime() / 1e9,
        "gc_s": jstage.jvmGcTime() / 1e3,
        "input_mb": jstage.inputBytes() / MB,
        "output_mb": jstage.outputBytes() / MB,
        "shuffle_write_mb": jstage.shuffleWriteBytes() / MB,
        "shuffle_read_mb": jstage.shuffleReadBytes() / MB,
        "spill_mb": jstage.diskBytesSpilled() / MB,
    }


class Tracer:
    """Job-group and status-store records for traced operations."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._group: str | None = None
        self._record: dict[str, float] | None = None
        self._restore: list[tuple[object, str, object]] = []
        self._seq = 0

    # -- layer-boundary spans ------------------------------------------------

    def install(self) -> None:
        """Time every call to ``catalog.load_table`` and count its jobs."""
        from map_reduce485_spark import catalog

        original = catalog.load_table

        def load_table(*args, **kwargs):
            if self._record is None:
                return original(*args, **kwargs)
            jobs0 = self.jobs()
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.add("catalog.load_s", time.perf_counter() - t0)
                self.add("catalog.jobs", self.jobs() - jobs0)

        # ``from catalog import load_table`` made copies; rebind each one
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("map_reduce485_spark"):
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        self._restore.append((mod, attr, value))
                        setattr(mod, attr, load_table)

    def uninstall(self) -> None:
        for mod, attr, value in self._restore:
            setattr(mod, attr, value)
        self._restore.clear()

    def add(self, key: str, value: float) -> None:
        if self._record is not None:
            self._record[key] = self._record.get(key, 0.0) + value

    def jobs(self) -> int:
        """Spark jobs submitted so far under the current operation's group."""
        self._drain()
        return len(self.sc.statusTracker().getJobIdsForGroup(self._group))

    # -- one operation -------------------------------------------------------

    @contextmanager
    def operation(self, record: dict[str, float]):
        """Run the body as one traced operation filling ``record``.

        On exit the record holds the group's stage totals (``operators.*``);
        ``record["_stages"]`` keeps the per-stage list for layers that split
        it further.
        """
        self._seq += 1
        self._group = f"perfbench-op-{self._seq}"
        self.sc.setJobGroup(self._group, self._group)
        self._record = record
        try:
            yield record
        finally:
            self._record = None
            self.sc._jsc.clearJobGroup()
        stages = self.stages(self._group)
        record["_stages"] = stages
        record["operators.stages"] = len(stages)
        for key in ("tasks", "run_s", "jvm_cpu_s", "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            record[f"operators.{key}"] = sum(s[key] for s in stages)

    def stages(self, group: str) -> list[dict]:
        """Records of every stage that ran (not skipped) for ``group``."""
        self._drain()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        out = []
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job_id)
            for sid in sorted(info.stageIds) if info else ():
                try:
                    jstage = store.lastStageAttempt(sid)
                except Exception:  # py4j error: the stage never started
                    continue
                if jstage.status().toString() != "SKIPPED":
                    out.append(_stage_record(jstage))
        return out

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()


def storage_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs and cached tables."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def plan_phases(df) -> dict[str, float]:
    """Force physical planning and read the planning tracker's phases."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    out = {"plans.plan_s": time.perf_counter() - t0}
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[f"plans.{phase}_ms"] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out
