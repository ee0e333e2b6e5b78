"""BPE merge training: hand-computed merges on a tiny vocabulary.

Pins the two semantics the oracle replay depends on: frequency-weighted
pair counting with OVERLAPPING adjacent pairs, and single-pass greedy
merging where ADJACENT occurrences of the winning pair all merge (the
double-space separator trick in `operators/bpe.py`).
"""

from __future__ import annotations

from map_reduce485_spark.operators.bpe import bpe_train


def test_bpe_hand_computed_merges(spark):
    # vocabulary: "abab" x3, "ab" x2, "ba" x1
    # step 1 pair counts: (a,b): 2*3 + 1*2 = 8 ; (b,a): 1*3 + 1*1 = 4
    #   -> merge (a b) -> ab ; "abab" becomes [ab, ab], "ab" becomes [ab]
    # step 2 pair counts: (ab,ab): 1*3 = 3 ; (b,a): 1 ("ba" untouched)
    #   -> merge (ab ab) -> abab
    words = spark.createDataFrame(
        [("abab", 3), ("ab", 2), ("ba", 1)], "word string, freq long"
    )
    rules = bpe_train(spark, words, 2)
    assert rules == [(1, "a b", "ab", 8), (2, "ab ab", "abab", 3)]


def test_bpe_adjacent_occurrences_merge_in_one_pass(spark):
    # "aaaa": pairs (a,a) x3 -> merge (a a).  Greedy left-to-right single
    # pass turns [a,a,a,a] into [aa,aa] (NOT [aa,a,a]); step 2's top pair
    # is then (aa,aa).
    words = spark.createDataFrame([("aaaa", 1)], "word string, freq long")
    rules = bpe_train(spark, words, 2)
    assert rules[0] == (1, "a a", "aa", 3)
    assert rules[1] == (2, "aa aa", "aaaa", 1)


def test_bpe_stops_when_no_pairs_left(spark):
    # single-char words produce no pairs: training stops early, no crash
    words = spark.createDataFrame([("a", 5), ("b", 3)], "word string, freq long")
    assert bpe_train(spark, words, 3) == []


def _sequential_bpe(vocab: dict[str, int], n_merges: int) -> list[tuple[int, str, str, int]]:
    """Plain-Python BPE: frequency-weighted overlapping pair counts, ties
    to the smallest 'x y' string, then one greedy left-to-right merge pass
    per word."""
    words = {w: list(w) for w in vocab}
    rules = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + vocab[w]
        if not counts:
            break
        (x, y), f = min(counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        rules.append((step, f"{x} {y}", x + y, f))
        for w, syms in words.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (x, y):
                    merged.append(x + y)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            words[w] = merged
    return rules


def test_bpe_past_stride_barriers_matches_sequential(spark):
    # 17 merges cross the stride-8 lineage barrier twice (steps 8 and 16),
    # so both the base->barrier and barrier->barrier hand-offs run
    vocab = {
        "lowest": 5, "lower": 6, "newer": 4, "wider": 3, "newest": 2,
        "low": 7, "widest": 2, "banana": 3, "bandana": 2, "aaaa": 1,
    }
    expected = _sequential_bpe(vocab, 17)
    assert len(expected) == 17
    words = spark.createDataFrame(list(vocab.items()), "word string, freq long")
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    assert bpe_train(spark, words, 17) == expected
    # every barrier and the base table are released before returning
    assert jsc.getPersistentRDDs().size() <= persisted
