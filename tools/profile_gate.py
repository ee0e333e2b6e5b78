"""Profile the correctness gate the way the DRIVER runs it.

Uses a plain ``SparkSession.builder.getOrCreate()`` (no engine tuning — the
driver constructs its own session), runs every registry query at sf0.01 plus
its DuckDB oracle, and prints per-query wall seconds sorted descending, plus
the total.  This is the feedback loop for making the full 106-query gate fit
the driver's time budget.

    python tools/profile_gate.py [--sf DIR] [--limit N]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

from map_reduce485_spark.queries import REGISTRY, _load_all
from tools.measure import COLLECT, Meter
from tools.verify_local import open_oracle


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--limit",
        type=int,
        default=None,
        help="profile only the first N registry queries (the driver's window)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    _load_all()
    names = args.names or list(REGISTRY)
    if args.limit is not None:
        names = names[: args.limit]

    t_boot = time.time()
    spark = SparkSession.builder.getOrCreate()  # plain, driver-style
    spark.sparkContext.setLogLevel("WARN")
    boot = time.time() - t_boot

    meter = Meter(spark)
    con = open_oracle(args.sf)

    rows = []
    total_spark = total_oracle = 0.0
    for name in names:
        spec = REGISTRY[name]
        try:
            run = meter.run(spec.fn, args.sf, COLLECT)
        except Exception as exc:
            print(f"ERROR {name}: {exc}", file=sys.stderr)
            rows.append((name, float("nan"), 0.0, -1))
            continue
        t1 = time.time()
        if spec.oracle is not None:
            try:
                con.execute(spec.oracle).fetchall()
            except Exception as exc:
                print(f"ORACLE ERROR {name}: {exc}", file=sys.stderr)
        t_oracle = time.time() - t1
        total_spark += run.wall
        total_oracle += t_oracle
        rows.append((name, run.wall, t_oracle, run.rows))

    rows.sort(key=lambda r: -(r[1] if r[1] == r[1] else 1e9))
    print(f"\n{'query':<40} {'spark_s':>8} {'duck_s':>7} {'rows':>7}")
    for name, ts, to, n in rows:
        print(f"{name:<40} {ts:>8.2f} {to:>7.2f} {n:>7}")
    print(
        f"\nsession boot {boot:.1f}s | spark total {total_spark:.1f}s | "
        f"oracle total {total_oracle:.1f}s | grand {boot + total_spark + total_oracle:.1f}s "
        f"| {len(rows)} queries"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
