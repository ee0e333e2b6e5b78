"""Interleaved same-session A/B harness with two modes and one protocol.

- **code mode** (``--variant``): a REGISTERED query vs a CANDIDATE variant
  builder (``module:function`` with the query's ``(spark, sf_dir)``
  signature, importable from the repo root or ``tools/``).  Result parity
  is asserted first: the variant must produce the same schema and rows
  (collected, sorted) as the registered query before any timing.

      python tools/ab_code.py --name dedup_minhash_lsh \\
          --variant my_variants:dedup_minhash_lsh_v2 [--reps 2]

- **conf mode** (``--conf``): a runtime-settable SQL conf at values A and
  B over named queries (default: the bench set).

      python tools/ab_code.py --conf spark.sql.join.preferSortMergeJoin \\
          --a true --b false [--names q21_waiting_suppliers,...] [--reps 2]

Protocol, both modes: per query, blocks run counterbalanced A-B-B-A so box
drift cancels to first order.  Each block mirrors bench.py's per-query
protocol: scoped caches released at entry, one COLD run (reported
separately: it pays cache materialization, which warm re-execution hides),
then ``--reps`` warm runs, all to the noop sink.  Every run records wall
clock and JVM CPU time; on a host with steal-time spikes CPU counts work
done, not hypervisor luck, while wall still shows parallelism and barrier
effects.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "0")

from map_reduce485_spark import get_spark
from map_reduce485_spark.queries import REGISTRY, _load_all, bench_queries
from map_reduce485_spark.queries._util import release_scoped_caches
from tools.measure import NOOP, Meter


def _ratio(b: float, a: float) -> float:
    return b / a if a else 0.0


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "--names", default="",
        help="comma-separated queries (default: the bench set); code mode takes one",
    )
    ap.add_argument("--variant", help="code mode: module:function variant builder")
    ap.add_argument("--conf", help="conf mode: SQL conf key set to --a / --b")
    ap.add_argument("--a", help="conf mode: value for arm A")
    ap.add_argument("--b", help="conf mode: value for arm B")
    ap.add_argument("--reps", type=int, default=2, help="warm runs per block")
    ap.add_argument("--skip-parity", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    if (args.variant is None) == (args.conf is None):
        ap.error("give exactly one of --variant (code mode) or --conf (conf mode)")
    if args.conf is not None and (args.a is None or args.b is None):
        ap.error("conf mode needs --a and --b")

    _load_all()
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    names = names or list(bench_queries())
    if args.variant is not None:
        if len(names) != 1:
            ap.error("code mode takes exactly one query (--name)")
        mod, fn_name = args.variant.split(":")
        arms = (REGISTRY[names[0]].fn, getattr(importlib.import_module(mod), fn_name))
    else:
        arms = (args.a, args.b)

    spark = get_spark("ab_code")
    meter = Meter(spark)
    meter.warm_up()

    if args.variant is not None and not args.skip_parity:
        a = arms[0](spark, args.sf_dir)
        b = arms[1](spark, args.sf_dir)
        assert a.schema == b.schema, f"schema mismatch:\n{a.schema}\n{b.schema}"
        ra = sorted(map(str, a.collect()))
        rb = sorted(map(str, b.collect()))
        assert ra == rb, (
            f"ROW MISMATCH: {len(ra)} vs {len(rb)} rows; "
            f"first diff: {next(((x, y) for x, y in zip(ra, rb) if x != y), None)}"
        )
        print(f"parity OK: {len(ra)} rows identical", flush=True)

    def block(name: str, arm):
        """One block of ``arm`` — a variant builder (code mode) or a conf
        value (conf mode).  Returns (warm runs, cold run)."""
        release_scoped_caches()
        if isinstance(arm, str):
            spark.conf.set(args.conf, arm)
            fn = REGISTRY[name].fn
        else:
            fn = arm
        cold = meter.run(fn, args.sf_dir, NOOP)
        warm = [meter.run(fn, args.sf_dir, NOOP) for _ in range(args.reps)]
        return warm, cold

    def best(runs) -> tuple[float, float]:
        return min(r.wall for r in runs), min(r.cpu for r in runs)

    tot = [[0.0, 0.0], [0.0, 0.0]]
    for name in names:
        meter.release()
        warm: tuple[list, list] = ([], [])
        cold: tuple[list, list] = ([], [])
        for arm in (0, 1, 1, 0):
            w, c = block(name, arms[arm])
            warm[arm].extend(w)
            cold[arm].append(c)
        (wa, ca), (wb, cb) = best(warm[0]), best(warm[1])
        (cwa, cca), (cwb, ccb) = best(cold[0]), best(cold[1])
        for t, (w, c) in zip(tot, ((wa, ca), (wb, cb))):
            t[0] += w
            t[1] += c
        print(
            f"{name}: wall A={wa:.3f} B={wb:.3f} ({_ratio(wb, wa):.3f})  "
            f"cpu A={ca:.2f} B={cb:.2f} ({_ratio(cb, ca):.3f})\n"
            f"  COLD: wall A={cwa:.3f} B={cwb:.3f} ({_ratio(cwb, cwa):.3f})  "
            f"cpu A={cca:.2f} B={ccb:.2f} ({_ratio(ccb, cca):.3f})\n"
            f"  rawWallA={[round(r.wall, 3) for r in warm[0]]} "
            f"rawWallB={[round(r.wall, 3) for r in warm[1]]}\n"
            f"  rawCpuA={[round(r.cpu, 2) for r in warm[0]]} "
            f"rawCpuB={[round(r.cpu, 2) for r in warm[1]]}",
            flush=True,
        )
    if len(names) > 1:
        (twa, tca), (twb, tcb) = tot
        print(
            f"TOTAL: wall A={twa:.3f} B={twb:.3f} ({_ratio(twb, twa):.3f})  "
            f"cpu A={tca:.2f} B={tcb:.2f} ({_ratio(tcb, tca):.3f})"
        )


if __name__ == "__main__":
    main()
