"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 30 --trace 0

Run from the repository root.  The load is one closed-loop client: the next
operation starts only when the previous one has finished.  With ``--trace
0`` the last line of standard output is a JSON object holding every
end-to-end metric; with ``--trace 1`` it holds every per-layer metric
instead.  The line before it stamps the machine state the numbers were
taken under.  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script, from the repository root
    sys.path.insert(0, ROOT)

from perfbench import proctree  # noqa: E402
from perfbench.layers import Tracer  # noqa: E402
from perfbench.workloads import QueryWorkload, WordCountWorkload  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")

SPEC = os.path.join(ROOT, "BENCHMARK.json")  # workload and metric names, units
WORDCOUNT_MB = 3.0
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_OPS = 11  # so that op_tail_s has ten samples beyond it
DEADLINE_S = 110  # measuring stops here even mid-pass, to exit within 180 s
DRIVER_MEM = "4g"


def pin_environment() -> dict[str, str]:
    """Fix the machine-dependent settings before Spark starts; return the
    Spark conf that keeps every file the run writes inside ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        # queries pay their own parquet scans, as in bench.py
        SPARK_GRAFT_CACHE_TABLES="0",
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        # the JVMs' temp files here too, and no perf-data files in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Spark's Python workers must import the package and these modules
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def make_workload(name: str, seed: int, cores: int):
    if name == "mr_wordcount":
        return WordCountWorkload(WORDCOUNT_MB, seed, WORK, cores)
    return QueryWorkload()


def set_up(workload, conf: dict[str, str]):
    """``get_spark()`` then the workload's warm-up, ``SETUPS`` times; each
    set-up after the first stops the session and builds a new one."""
    from map_reduce485_spark import get_spark

    spark = None
    starts, warmups = [], []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        workload.warmup(spark)
        starts.append(t1 - t0)
        warmups.append(time.perf_counter() - t1)
    return spark, starts, warmups


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum when there are too few samples."""
    xs = sorted(values)
    k = len(xs) - 10 if len(xs) > 10 else len(xs)
    return xs[k - 1], 100.0 * k / len(xs)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def calibrate(spark) -> float:
    """bench.py's calibration query: best of three after one warm run."""
    runs = []
    for _ in range(4):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id % 1000003) as s").collect()
        runs.append(time.perf_counter() - t0)
    return min(runs[1:])


class Run:
    """The measured loop and the samples it collects."""

    def __init__(self, workload, spark, tracer):
        self.workload, self.spark, self.tracer = workload, spark, tracer
        self.times: dict[str, list[float]] = defaultdict(list)  # untraced ops
        self.traced_times: list[float] = []
        self.records: dict[str, list[dict]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)  # untraced ops
        self.peak_rss_mb = 0.0
        self.attempted = self.failed = 0

    def op(self, name: str, traced: bool) -> None:
        """One operation: timed ``execute``, then untimed ``check`` and
        ``finish``.  A wrong or failed operation counts as failed; its time
        is kept."""
        record = {} if traced else None
        before = proctree.usage()
        problems: list[str] = []
        with self.tracer.operation(record) if traced else nullcontext():
            t0 = time.perf_counter()
            try:
                self.workload.execute(self.spark, name, record, self.tracer)
            except Exception:  # a failed operation is counted, not fatal
                problems.append(traceback.format_exc())
            dt = time.perf_counter() - t0
        after = proctree.usage()
        if traced:
            record["operators.py_cpu_s"] = after.py_cpu_s - before.py_cpu_s
        try:
            if not problems:
                problems = self.workload.check(name)
        except Exception:
            problems.append(traceback.format_exc())
        try:
            self.workload.finish(self.spark, record)
        except Exception:
            problems.append(traceback.format_exc())
        self.attempted += 1
        print(f"# {name}{' traced' if traced else ''}: {dt:.3f} s, cpu {after.cpu_s - before.cpu_s:.2f} s{' FAILED' if problems else ''}", file=sys.stderr)
        if problems:
            self.failed += 1
            print(f"# {name}: {'; '.join(problems)}", file=sys.stderr)
        self.peak_rss_mb = max(self.peak_rss_mb, after.peak_rss_mb)
        if traced:
            record.pop("_stages", None)
            self.records[name].append(record)
            self.traced_times.append(dt)
        else:
            self.times[name].append(dt)
            self.cpu[name].append(after.cpu_s - before.cpu_s)

    def loop(self, seed: int, seconds: float) -> None:
        """Whole passes, as close to ``seconds`` as whole passes allow, and
        at least ``MIN_OPS`` operations.  A pass longer than ``seconds``
        (the queries) runs once."""
        rng = random.Random(seed)
        t_start = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            for name in self.workload.ops(rng):
                if time.perf_counter() - t_start > DEADLINE_S:
                    # work the run could not finish counts as failed
                    self.attempted += 1
                    self.failed += 1
                    continue
                self.op(name, self.tracer is not None)
            now = time.perf_counter()
            if now - t_start + (now - t_pass) / 2 >= seconds and self.attempted >= MIN_OPS:
                return

    def _per_pass(self, samples: dict[str, list[float]]) -> float:
        """The median of each distinct operation, summed over a pass."""
        return sum(statistics.median(xs) for xs in samples.values())

    def latency(self, times: list[float]) -> dict[str, float]:
        op_tail, pct = tail(times)
        return {"op_p50_s": statistics.median(times), "op_tail_s": op_tail, "op_tail_percentile": pct, "op_n": len(times)}

    def end_to_end(self) -> dict[str, float]:
        total = self._per_pass(self.times)
        return {
            "total_s": total,
            "mb_per_s": self.workload.input_bytes / 1e6 / total,
            "cpu_s": self._per_pass(self.cpu),
        }

    def per_layer(self, names: list[str]) -> dict[str, float]:
        """Each metric formed as ``total_s`` is: the median over an
        operation's traced samples, summed over the distinct operations.
        A layer the workload never enters reads 0, as predicted."""
        out = {m: self._per_pass({k: [r.get(m, 0.0) for r in recs] for k, recs in self.records.items()}) for m in names}
        out.update(self.latency(self.traced_times))
        out["fail_frac"] = self.failed / self.attempted
        out["peak_rss_mb"] = self.peak_rss_mb
        return out


def main(argv: list[str] | None = None) -> int:
    with open(SPEC) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    conf = pin_environment()
    try:
        import map_reduce485_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from pyspark import SparkContext

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    workload = make_workload(args.workload, args.seed, cores)
    t0 = time.perf_counter()
    workload.prepare()  # inputs are made before set-up and never timed
    prepare_s = time.perf_counter() - t0

    loadavg = os.getloadavg()[0]
    spark, starts, warmups = set_up(workload, conf)
    setup_s = statistics.median(a + b for a, b in zip(starts, warmups))
    tracer = Tracer(spark) if args.trace else None
    try:
        if tracer:
            tracer.install()
        steal0 = cpu_ticks()
        run = Run(workload, spark, tracer)
        t0 = time.perf_counter()
        run.loop(args.seed, args.seconds)
        measure_s = time.perf_counter() - t0
        steal1 = cpu_ticks()
        wanted = spec["per_layer" if tracer else "end_to_end"]
        if tracer:
            metrics = run.per_layer([m["name"] for m in wanted])
            metrics.update(workload.run_record(spark))
            metrics["session.start_s"] = statistics.median(starts)
            metrics["session.warmup_s"] = statistics.median(warmups)
        else:
            metrics = run.end_to_end()
            metrics["setup_s"] = setup_s
        calibration = calibrate(spark)
    finally:
        if tracer:
            tracer.uninstall()
        spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cores,
        "loadavg_1m": loadavg,
        "steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "calibration_s": calibration,
        "setup_cold_s": starts[0] + warmups[0],
        "prepare_s": prepare_s,
        "measure_s": measure_s,
    }
    # per-operation latency over all operations, and the percentile and
    # sample count op_tail_s stands for; traced runs report it as metrics
    latency = run.latency([t for ts in run.times.values() for t in ts] or run.traced_times)
    stamp.update((k, latency[k]) for k in ("op_tail_percentile", "op_n"))
    if not tracer:
        stamp.update(op_p50_s=latency["op_p50_s"], op_tail_s=latency["op_tail_s"])
    print(json.dumps({"stamp": stamp}))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
