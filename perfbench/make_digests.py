"""Record oracle-verified result digests for the ``queries_sf001`` workload.

    python3 perfbench/make_digests.py

Runs every ``bench=True`` registry query on the benchmark's copy of the
sf0.01 tables, compares it with its DuckDB oracle through
``tools/verify_local.py`` (the driver-faithful comparison), and writes the
digest of every result that passes to ``perfbench/digests.json``.  Exits
non-zero, writing nothing, if any query fails its oracle.  Needs DuckDB; the
benchmark itself does not.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run
    from perfbench.workloads import DIGESTS, SF_DIR, result_digest

    conf = run.pin_environment()
    from map_reduce485_spark import get_spark
    from map_reduce485_spark.queries import bench_queries
    from map_reduce485_spark.queries._util import release_scoped_caches
    from tools.verify_local import check_query, open_oracle

    spark = get_spark("perfbench-digests", extra_conf=conf)
    con = open_oracle(SF_DIR)
    digests, failed = {}, []
    for name, spec in sorted(bench_queries().items()):
        status, detail = check_query(spark, con, spec, SF_DIR)
        release_scoped_caches()
        df = spec.fn(spark, SF_DIR)
        digests[name] = result_digest(df.columns, df.collect())
        release_scoped_caches()
        print(f"{status:5s} {name}: {detail.splitlines()[0]}", file=sys.stderr)
        if status != "PASS":
            failed.append(name)
    spark.stop()
    if failed:
        print(f"not written: {failed} did not pass the oracle", file=sys.stderr)
        return 1
    with open(DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
