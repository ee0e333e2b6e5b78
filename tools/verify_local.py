"""Local replica of the driver's correctness gate — dtype-faithful.

The driver compares pandas-STRINGIFIED frames: Spark ``.toPandas()`` vs
DuckDB ``.df()``, columns sorted by name, rows sorted, values hashed as
strings.  That makes pandas dtype *kind* part of the contract — an int64
``123456`` and a float64 ``123456.0`` stringify differently even though
Python ``==`` calls them equal (the exact blind spot that cost round 2:
DuckDB HUGEINT/TINYINT results land in pandas as float64 while Spark
emits int64).

This gate therefore compares the same pandas frames the driver sees:

  1. per-column dtype-kind check — any int-vs-float pair is a FAIL(dtype)
  2. stringified, column-sorted, row-sorted frame equality — FAIL(hash)

Use while iterating:

    python tools/verify_local.py [--sf /root/testdata/sf0.01] [query ...]

`tests/test_oracle_dtypes.py` imports `kind_mismatches` / `canon_frame`
so the dtype sweep also runs under pytest.
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from map_reduce485_spark import get_spark
from map_reduce485_spark.catalog import TABLES, table_path
from map_reduce485_spark.queries import REGISTRY, _load_all

_NUMERIC_KINDS = set("iuf")


def kind_mismatches(spdf: pd.DataFrame, opdf: pd.DataFrame) -> list[str]:
    """Columns where one engine fetched int-kind and the other float-kind.

    These stringify differently (``123456`` vs ``123456.0``) and therefore
    hash-mismatch in the driver even when values are numerically equal.
    """
    bad = []
    for c in spdf.columns:
        if c not in opdf.columns:
            continue
        a, b = spdf[c].dtype.kind, opdf[c].dtype.kind
        if a in _NUMERIC_KINDS and b in _NUMERIC_KINDS and (a == "f") != (b == "f"):
            bad.append(f"{c}: spark={spdf[c].dtype} oracle={opdf[c].dtype}")
    return bad


def canon_frame(pdf: pd.DataFrame) -> list[tuple]:
    """Driver-style canonical form: columns sorted by name, every value
    stringified (no float rounding — bit-identical values are the
    contract), rows sorted."""
    pdf = pdf[sorted(pdf.columns)]
    as_str = pdf.astype(str)
    return sorted(map(tuple, as_str.itertuples(index=False, name=None)))


def open_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table at ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def check_query(spark, con, spec, sf_dir: str) -> tuple[str, str]:
    """Returns (status, detail) with status in PASS|rows|FAIL."""
    try:
        spdf = spec.fn(spark, sf_dir).toPandas()
    except Exception:
        return "FAIL", "SPARK ERROR\n" + traceback.format_exc()
    if spec.oracle is None:
        return "rows", f"{len(spdf)} rows (rows-only)"
    try:
        opdf = con.execute(spec.oracle).df()
    except Exception:
        return "FAIL", "ORACLE ERROR\n" + traceback.format_exc()
    if sorted(spdf.columns) != sorted(opdf.columns):
        return (
            "FAIL",
            f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}",
        )
    dt = kind_mismatches(spdf, opdf)
    if dt:
        return "FAIL", "dtype kind mismatch (driver hash WILL differ): " + "; ".join(dt)
    cs, co = canon_frame(spdf), canon_frame(opdf)
    if len(cs) != len(co):
        return "FAIL", f"rowcount spark={len(cs)} oracle={len(co)}"
    if cs != co:
        bad = [(a, b) for a, b in zip(cs, co) if a != b][:3]
        return "FAIL", f"stringified-value mismatch; first diffs: {bad}"
    return "PASS", f"{len(cs)} rows"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--json", default=None, help="write a per-query summary artifact")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    _load_all()
    names = args.names or list(REGISTRY)

    spark = get_spark("verify_local")
    con = open_oracle(args.sf)

    n_pass = n_fail = n_rows_only = 0
    from map_reduce485_spark.queries._util import release_scoped_caches

    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        status, detail = check_query(spark, con, REGISTRY[name], args.sf)
        release_scoped_caches()  # 187-query session must not hoard storage
        dt = round(time.time() - t0, 1)
        print(f"{status:<5} {name}: {detail} ({dt}s)")
        results[name] = {
            "status": status,
            "detail": detail if status != "PASS" else detail.split(" (")[0],
            "sec": dt,
        }
        if status == "PASS":
            n_pass += 1
        elif status == "rows":
            n_rows_only += 1
        else:
            n_fail += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf": args.sf,
                    "n_queries": len(names),
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_rows_only,
                    "queries": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
