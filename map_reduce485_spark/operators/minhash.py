"""MinHash signatures and LSH band rows — the one Spark copy.

Signature: ``h_j(doc) = MIN over the doc's shingles of md5(shingle ∥ '#j')``
for ``j < N_PERM``.  The lexicographic min over hex digests equals the
numeric min over the 128-bit hash, so this is MinHash with ``N_PERM``
independent permutations, deterministic and replayable in SQL (the DuckDB
half lives next to the queries as ``_MINHASH_SIG_COLS_SQL`` /
``_MINHASH_BANDS_SQL`` in ``queries/dedup.py``).

Banding: band ``bi`` digests its rows as ``md5(concat(h_j for j in
band))``; two docs are LSH candidates when any band digest agrees.  Band
rows come from ONE ``inline(array(struct(...)))`` over the digest columns,
never a per-band ``unionAll``: a union re-runs the signature aggregate once
per branch per join side, while ``inline`` derives it once (round-14 A/B on
``dedup_minhash_lsh``: JVM CPU 0.69x, OPTIMIZATION_r14.md).  Candidates
are the band self-join of those rows (:func:`candidate_pairs`).

SimHash bands through :func:`band_rows` too: ``queries/dedup.py``'s
``_simhash_banded_pairs`` puts each fingerprint chunk in a ``d{c}`` column
and self-joins the band rows with its own first-matching-band verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PERM = 8  # 8 hash permutations → 2 bands of 4 rows
BANDS = ((0, 1, 2, 3), (4, 5, 6, 7))


def perm_hash(j: int, shingle: str = "shingle") -> Column:
    """Permutation ``j`` of a shingle: ``md5(shingle ∥ '#j')``."""
    return F.md5(F.concat(F.col(shingle), F.lit(f"#{j}")))


def signature_cols(shingle: str = "shingle") -> list[Column]:
    """Aggregate columns ``h0 .. h{N_PERM-1}`` for ``groupBy(doc_id).agg``."""
    return [F.min(perm_hash(j, shingle)).alias(f"h{j}") for j in range(N_PERM)]


def band_digest_cols(
    bands: tuple[tuple[int, ...], ...] = BANDS,
) -> list[Column]:
    """Per-band digest columns ``d{bi} = md5(concat(h_j for j in band))``
    over a frame carrying the signature columns."""
    return [
        F.md5(F.concat(*[F.col(f"h{j}") for j in band])).alias(f"d{bi}")
        for bi, band in enumerate(bands)
    ]


def band_rows(digests: DataFrame, *keep: str, n_bands: int = len(BANDS)) -> DataFrame:
    """One row per (doc, band): the ``keep`` columns plus ``band_id`` and
    ``band``, from a frame carrying ``d0 .. d{n_bands-1}``
    (:func:`band_digest_cols`)."""
    structs = ", ".join(
        f"struct({bi} AS band_id, d{bi} AS band)" for bi in range(n_bands)
    )
    return digests.select(*keep, F.expr(f"inline(array({structs}))"))


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct ``(a_id, b_id)``, ``a_id < b_id``, of docs sharing a band:
    the self-join of :func:`band_rows` output.  A self-join's sides are
    equal-sized, so broadcast is never the right strategy — the join is
    pinned to a shuffle (Catalyst's generate size guess can undershoot the
    broadcast threshold at scale)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b.hint("shuffle_merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
