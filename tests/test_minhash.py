"""The shared MinHash module (operators/minhash.py) against the DuckDB
oracle fragments every MinHash query's oracle is built from."""

from __future__ import annotations

import duckdb
import pandas as pd

from map_reduce485_spark.operators.minhash import (
    band_digest_cols,
    band_rows,
    signature_cols,
)
from map_reduce485_spark.queries.dedup import (
    _MINHASH_BANDS_SQL,
    _MINHASH_SIG_COLS_SQL,
    _ORACLE_SHINGLES,
    _spark_shingles,
)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "a  completely   different text  with extra spaces"),
    (4, "too short"),  # < 3 words: no shingles, so no signature
    (5, "again again again again again"),
]


def test_minhash_module_matches_duckdb_oracle(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    sig = _spark_shingles(docs).groupBy("doc_id").agg(*signature_cols())
    bands = band_rows(sig.select("doc_id", *band_digest_cols()), "doc_id")
    got_sig = sorted(tuple(r) for r in sig.collect())
    got_bands = sorted(tuple(r) for r in bands.collect())

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(_DOCS, columns=["doc_id", "text"]))
    with_sig = (
        f"WITH {_ORACLE_SHINGLES}, "
        f"sig AS (SELECT doc_id, {_MINHASH_SIG_COLS_SQL} FROM sh GROUP BY doc_id)"
    )
    want_sig = sorted(con.execute(f"{with_sig} SELECT * FROM sig").fetchall())
    want_bands = sorted(
        con.execute(
            f"{with_sig}, bands AS ({_MINHASH_BANDS_SQL})"
            " SELECT doc_id, band_id, band FROM bands"
        ).fetchall()
    )

    assert [r[0] for r in got_sig] == [1, 2, 3, 5]
    assert got_sig == want_sig
    assert got_bands == want_bands
