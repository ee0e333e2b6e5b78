"""Dump `.explain("formatted")` for named queries (default: the bench set)
to plans/<tag>/<query>_<suffix>.txt — the optimization round's evidence
files (the judge reads these instead of running Spark).

    python tools/dump_plans.py --tag r13 --suffix before [--names a,b,c]
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# plans must reflect the bench's state: real parquet scans, not cached tables
os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "0")

from map_reduce485_spark import get_spark
from map_reduce485_spark.plans import explain_str, plan_shape
from map_reduce485_spark.queries import REGISTRY, _load_all, bench_queries


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--names", default="")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    _load_all()
    if args.names:
        names = [n.strip() for n in args.names.split(",") if n.strip()]
    else:
        names = list(bench_queries())

    out_dir = Path(__file__).resolve().parent.parent / "plans" / args.tag
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("dump_plans")
    for name in names:
        spec = REGISTRY[name]
        try:
            df = spec.fn(spark, args.sf_dir)
            text = explain_str(df, "formatted")
        except Exception as exc:  # plan-only pass must not die on one query
            text = f"ERROR building plan: {exc!r}"
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(text)
        n_ex, joins, py = plan_shape(text)
        print(f"{name}: Exchange={n_ex} joins={joins} python={py} -> {path.name}")


if __name__ == "__main__":
    main()
