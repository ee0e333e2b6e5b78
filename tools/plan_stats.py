"""Whole-registry plan-shape checklist for the optimization round: one line
per query with Exchange count, join operators, Python-boundary nodes, and
whether every parquet scan is column-pruned (no full-width ReadSchema).

    python tools/plan_stats.py [--sf-dir /root/testdata/sf0.001] [--out FILE]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")  # sweep speed; shapes unchanged

from map_reduce485_spark import get_spark
from map_reduce485_spark.plans import explain_str, plan_shape
from map_reduce485_spark.queries import REGISTRY, _load_all
from map_reduce485_spark.queries._util import release_scoped_caches


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    _load_all()
    spark = get_spark("plan_stats")
    lines = []
    for name, spec in REGISTRY.items():
        try:
            df = spec.fn(spark, args.sf_dir)
            txt = explain_str(df, "formatted")
            n_ex, joins, py = plan_shape(txt)
            single = "SinglePartition" in txt
            global_sort = bool(re.search(r"\bSort \[[^\]]*\], true", txt)) and "TakeOrderedAndProject" not in txt
            lines.append(
                f"{name}\tex={n_ex}\tjoins={','.join(joins) or '-'}\t"
                f"py={','.join(py) or '-'}\tsinglePart={'Y' if single else 'N'}\t"
                f"globalSort={'Y' if global_sort else 'N'}"
            )
        except Exception as exc:
            lines.append(f"{name}\tERROR\t{exc!r}"[:300])
        release_scoped_caches()
        print(lines[-1], flush=True)
    if args.out:
        Path(args.out).write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
