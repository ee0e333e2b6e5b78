"""BPE merge training: the tokenizer-training iteration as a Spark job.

Byte-pair encoding training is the canonical iterative text op a training
pipeline needs (the reference has no analog; this exists for the LLM-data
family): repeatedly find the most frequent adjacent symbol pair in the
corpus vocabulary and merge it into one symbol.

Scale design — the corpus is touched ONCE:

  1. Word counting is the only corpus-linear stage (explode + groupBy —
     the wordcount shuffle).
  2. Every merge iteration then runs over the VOCABULARY (distinct words
     with frequencies — millions of rows regardless of corpus size, the
     same reduction real BPE trainers exploit): pair counts are a
     vocab-sized groupBy weighted by word frequency, and the argmax is a
     1-row driver round-trip per iteration (the k-means centroid shape,
     `operators/kmeans.py`).

Symbol sequences are DOUBLE-SPACE-joined strings with double-space
sentinels (``'  c  a  t  '``): a merge of pair (x, y) is then one
``replace(s, ' x  y ', ' xy ')`` — the single-space-bounded pattern leaves
each neighboring separator's second space in place, so ADJACENT
occurrences all merge in a single left-to-right replace pass, and Spark's
`replace` and DuckDB's `replace` (both non-overlapping left-to-right
scans) produce byte-identical strings.  That is what makes the oracle a
faithful replay instead of an approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce485_spark.queries._util import cache_scoped, release

# initial symbol string: double-space-joined characters with sentinels
_SYM_INIT = (
    "'  ' || concat_ws('  ', transform(sequence(1, length(word)),"
    " i -> substring(word, i, 1))) || '  '"
)

# symbols back out of the separator encoding (guard: Spark's sequence(1, 0)
# is DESCENDING, so 1-symbol words need an explicit empty-array branch)
_PAIRS = (
    "CASE WHEN size(a) < 2 THEN array()"
    " ELSE transform(sequence(1, size(a) - 1),"
    "      i -> element_at(a, i) || ' ' || element_at(a, i + 1)) END"
)


def bpe_train(
    spark: SparkSession, words: DataFrame, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Run `n_merges` BPE iterations over a (word, freq) vocabulary.

    Returns [(step, pair, merged, freq)] — the learned merge rules in
    order.  `words.freq` must be integral.

    Caching discipline (round 14): only the INITIAL symbol table is
    cached; each iteration's symbols are a lazy chain of vocab-scale
    `replace` projections over it.  Per-iteration caching (the previous
    shape) paid one materialization job + a storage write per merge and
    was measured wall 1.29x / JVM-CPU 1.27x worse at the bench's 3 merges
    (tools/ab_code.py A/B, OPTIMIZATION_r14.md §8).
    Recomputing the chain costs O(k²/2) replace passes across k merges —
    fine for small k; every `_LINEAGE_STRIDE` merges the chain is cut with
    a cached barrier so large-k training stays O(k·stride) work with a
    bounded plan (branch factor is 1, so the kcore-style exponential
    planning growth does not apply — the stride only bounds recompute and
    plan LENGTH).  A new barrier is filled by the next step's pair-count
    collect, which scans all of it; only then is the generation it replaces
    (the previous barrier, or `base`) released, so no extra job runs.
    Every cache is released before returning.
    """
    _LINEAGE_STRIDE = 8
    base = cache_scoped(words.select(F.expr(_SYM_INIT).alias("s"), "freq"))
    sym = barrier = base  # barrier: the cached root of sym's chain
    replaced: DataFrame | None = None  # the barrier before, freed once it fills
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pairs = sym.select(
            F.expr("filter(split(trim(s), '  '), x -> x <> '')").alias("a"), "freq"
        ).select(F.explode(F.expr(_PAIRS)).alias("pair"), "freq")
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("f"))
            .orderBy(F.col("f").desc(), "pair")  # deterministic tiebreak
            .limit(1)
            .collect()
        )
        if replaced is not None:
            release(replaced)
            replaced = None
        if not best:
            break
        pair, freq = best[0].pair, int(best[0].f)
        x, y = pair.split(" ")
        out.append((step, pair, x + y, freq))
        sym = sym.select(
            F.replace(
                F.col("s"), F.lit(f" {x}  {y} "), F.lit(f" {x}{y} ")
            ).alias("s"),
            "freq",
        )
        if step % _LINEAGE_STRIDE == 0:
            replaced, barrier = barrier, cache_scoped(sym)
            sym = barrier
    release(barrier)
    if replaced is not None:
        release(replaced)
    return out
