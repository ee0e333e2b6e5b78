"""Isolate one (or a few) queries with the noop sink (guide §1.4): untimed
warm-up, then best-of-N timed runs of `df.write.format("noop")` so the
computation is measured, not the sink or a driver collect.

    python tools/bench_one.py name1,name2 [--runs 3] [--sf-dir ...] [--collect]

`--collect` times the bench.py action (collect / parquet sink) instead, for
apples-to-apples comparison with BENCH_r*.json numbers.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "0")

from map_reduce485_spark import get_spark
from map_reduce485_spark.queries import REGISTRY, _load_all
from tools.measure import COLLECT, NOOP, Meter


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--collect", action="store_true")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="k=v session-build conf (repeatable; for process-level confs "
        "like spark.io.compression.codec that cannot be set at runtime)",
    )
    args = ap.parse_args()

    _load_all()
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("bench_one", extra_conf=extra or None)
    meter = Meter(spark)
    meter.warm_up()

    import tempfile

    sink = os.path.join(tempfile.gettempdir(), "mr485_bench_one_sink")

    for name in names:
        spec = REGISTRY[name]
        target = NOOP
        if args.collect:
            target = sink if spec.bench_sink else COLLECT
        spark.sparkContext.setJobDescription(f"bench_one:{name}")
        meter.run(spec.fn, args.sf_dir, target)  # warm-up, untimed
        runs = [meter.run(spec.fn, args.sf_dir, target) for _ in range(args.runs)]
        meter.release()
        walls, cpus_ = [r.wall for r in runs], [r.cpu for r in runs]
        py_cpus = [r.py_cpu for r in runs]
        print(
            f"{name}: wall best {min(walls):.3f}s all {[round(r, 3) for r in walls]} "
            f"cpu best {min(cpus_):.2f}s all {[round(c, 2) for c in cpus_]} "
            f"py_cpu best {min(py_cpus):.2f}s all {[round(c, 2) for c in py_cpus]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
