"""Property-based Layer A tests (hypothesis): reference-contract invariants
that golden tests can't sweep — arbitrary Unicode payloads, arbitrary
key distributions.

Pins the SURVEY.md §7.3 'sort-order fidelity' hard part: the reference
sorts whole ``key\\tvalue`` lines by Unicode codepoint
(``worker/__main__.py:161``) and places lines by ``md5(key) % R``
(``worker/__main__.py:117-121``); both must hold for non-ASCII data.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce485_spark.mapreduce import JobRequest, MapReduceJob, md5_partition
from map_reduce485_spark.mapreduce.job import extract_key

# words over a deliberately nasty alphabet: ASCII, Latin-1 accents, CJK,
# an astral-plane emoji (surrogate handling), and a combining mark
_WORD_ALPHABET = "abzAZ09éÜßñ中文日本語한🎉́"
_words = st.text(alphabet=_WORD_ALPHABET, min_size=1, max_size=6)
_lines = st.lists(
    st.lists(_words, min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=40,
)

_SETTINGS = settings(
    max_examples=5,  # each example runs a full Spark job — keep the fleet small
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _run_wc(spark, tmp_path: Path, lines: list[str], num_reducers: int) -> Path:
    ind = tmp_path / "in"
    ind.mkdir()
    # split lines across two input files like a real multi-file dataset
    mid = len(lines) // 2
    (ind / "a.txt").write_text("".join(l + "\n" for l in lines[:mid]))
    (ind / "b.txt").write_text("".join(l + "\n" for l in lines[mid:]))

    def wc_map(line: str):
        for w in line.split():
            yield f"{w}\t1"

    def wc_reduce(key: str, values):
        yield f"{key}\t{sum(int(v) for v in values)}"

    out = tmp_path / "out"
    MapReduceJob(spark, JobRequest(str(ind), str(out), wc_map, wc_reduce, 2, num_reducers)).run()
    return out


def _parts(out: Path) -> list[list[str]]:
    return [
        p.read_text().splitlines()
        for p in sorted(out.iterdir())
        if p.name.startswith("part-")
    ]


@given(lines=_lines, num_reducers=st.integers(min_value=1, max_value=4))
@_SETTINGS
def test_wordcount_matches_counter_any_unicode(spark, tmp_path_factory, lines, num_reducers):
    """Engine word count ≡ collections.Counter for arbitrary Unicode input,
    any reducer count."""
    tmp = tmp_path_factory.mktemp("prop_wc")
    out = _run_wc(spark, tmp, lines, num_reducers)
    got: Counter = Counter()
    n_parts = 0
    for part in _parts(out):
        n_parts += 1
        for line in part:
            k, v = line.split("\t", 1)
            got[k] += int(v)
    expected = Counter(w for l in lines for w in l.split())
    assert got == expected
    assert n_parts == num_reducers  # one part file per reduce partition


@given(lines=_lines)
@_SETTINGS
def test_sort_and_placement_fidelity(spark, tmp_path_factory, lines):
    """Reference shuffle contract on arbitrary Unicode data:
    each part file is whole-line codepoint-sorted (worker/__main__.py:161)
    and every line lands in part ``md5(key) % R`` (:117-121)."""
    tmp = tmp_path_factory.mktemp("prop_sort")
    out = _run_wc(spark, tmp, lines, 3)
    for part_idx, part in enumerate(_parts(out)):
        assert part == sorted(part), "part file not codepoint-sorted"
        for line in part:
            assert md5_partition(extract_key(line), 3) == part_idx, (
                f"line {line!r} misplaced"
            )


@given(key=st.text(), num_r=st.integers(1, 64))
@settings(max_examples=300, deadline=None)
def test_md5_partition_matches_hexdigest_form(key, num_r):
    """The digest-bytes placement is the reference's hexdigest formula
    (``worker/__main__.py:117-121``) for any Unicode key and R."""
    want = int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % num_r
    assert md5_partition(key, num_r) == want


def test_pack_sequences_offsets_contiguous_and_bounded(spark):
    """Packing invariants: within every shard, docs tile the token stream
    contiguously (each start_offset == previous start + previous length,
    starting at 0), and a doc's pack is its start offset's 2048-window."""
    from map_reduce485_spark.queries.text_analysis import (
        _PACK_SEQ_LEN,
        pack_sequences,
    )
    from tests.conftest import SF_SMOKE

    rows = pack_sequences(spark, SF_SMOKE).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert by_shard
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in rs:
            assert r.start_offset == expect, (shard, r.doc_id)
            assert r.pack_id == shard * 100000 + r.start_offset // _PACK_SEQ_LEN
            expect += r.n_tokens


def test_winnowing_guarantee_shared_run(spark, tmp_path_factory):
    """Winnowing's correctness property (Schleimer et al. §2): documents
    sharing a run of at least w+2 consecutive words are guaranteed a shared
    fingerprint — no probabilistic misses.  Plant a 12-word shared run
    (two disjoint guarantee windows -> >= 2 shared fingerprints, meeting
    the query's n_shared >= 2 cut) at several offsets of otherwise-disjoint
    documents and require the pair to surface every time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce485_spark.queries.dedup import dedup_winnowing_pairs

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    fillers_a = ["ay by cy dy ey", "one two", ""]
    fillers_b = ["zz yy xx", "", "nine eight seven six five four"]
    for fa, fb in zip(fillers_a, fillers_b):
        tmp = tmp_path_factory.mktemp("winnow")
        a_text = " ".join(x for x in (fa, shared) if x)
        b_text = " ".join(x for x in (shared, fb) if x)
        docs = pa.table(
            {
                "doc_id": [1, 2],
                "text": [a_text, b_text],
                "lang": ["en", "en"],
                "source": ["s", "s"],
                "n_chars": [len(a_text), len(b_text)],
            }
        )
        pq.write_table(docs, tmp / "documents.parquet")
        rows = dedup_winnowing_pairs(spark, str(tmp)).collect()
        pairs = {(r.a_id, r.b_id): r.n_shared for r in rows}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 2, (fa, fb, pairs)


def test_star_components_chain_converges_logarithmically(spark):
    """The round-4 verdict's bounded-rounds demand: on a path graph — the
    worst case for min-label propagation (O(diameter) rounds) — alternating
    large-star/small-star must label every node with the component min in
    O(log^2 n) rounds.  A 96-node path would need ~95 propagation rounds;
    the star contraction must finish in <= 8."""
    from map_reduce485_spark.operators.components import star_components

    n = 96
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    labels, rounds = star_components(pairs, "a_id", "b_id")
    got = {r.id: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 8, rounds


def test_star_components_matches_union_find_random_graphs(spark):
    """Set-equality against a driver-side union-find on random-ish sparse
    graphs (deterministic seeds): every node labeled, labels = component
    minima, multiple components preserved."""
    import random

    from map_reduce485_spark.operators.components import star_components

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        n = 200
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(150)
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # expected: only nodes incident to an edge, labeled by component min
        incident = {x for e in edges for x in e}
        comp_min: dict[int, int] = {}
        for x in incident:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        expect = {x: comp_min[find(x)] for x in incident}

        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        labels, rounds = star_components(pairs, "a_id", "b_id")
        got = {r.id: r.label for r in labels.collect()}
        assert got == expect, seed
        assert rounds <= 10, (seed, rounds)


# ---------------------------------------------------------------------------
# Pure-operator properties (no Spark in the loop — wide example sweeps)
# ---------------------------------------------------------------------------

_payloads = st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=8)


@settings(max_examples=50, deadline=None)
@given(_payloads)
def test_frame_delta_cuts_matches_reference(payloads):
    """Vectorized frame features == a straightforward per-payload reference
    for arbitrary binary payloads (empty, <1 frame, uneven tails)."""
    import numpy as np
    import pandas as pd

    from map_reduce485_spark.operators.multimodal import (
        CUT_THRESHOLD,
        FRAME_BYTES,
        frame_delta_cuts,
    )

    batch = pd.DataFrame(
        {"doc_id": list(range(len(payloads))), "payload": payloads}
    )
    outs = list(frame_delta_cuts(iter([batch])))
    got = (
        pd.concat(outs).sort_values(["doc_id", "frame_idx"]).reset_index(drop=True)
        if outs
        else pd.DataFrame(columns=["doc_id", "frame_idx", "brightness", "delta", "is_cut"])
    )

    exp_rows = []
    for i, b in enumerate(payloads):
        n = len(b) // FRAME_BYTES
        prev = None
        for f in range(n):
            br = sum(b[f * FRAME_BYTES : (f + 1) * FRAME_BYTES])
            delta = 0 if prev is None else br - prev
            exp_rows.append((i, f, br, delta, int(abs(delta) > CUT_THRESHOLD)))
            prev = br
    exp = pd.DataFrame(
        exp_rows, columns=["doc_id", "frame_idx", "brightness", "delta", "is_cut"]
    )
    assert len(got) == len(exp)
    if len(exp):
        for col in exp.columns:
            assert list(got[col].astype(int)) == list(exp[col].astype(int)), col


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.sampled_from([f"w{i}" for i in range(30)]), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=8),
)
def test_misra_gries_survival_guarantee(stream, n_batches):
    """Every token with frequency > N/(m+1) must survive the batched MG
    summary regardless of how the stream is cut into batches (the
    mergeable-summaries bound the two-phase heavy-hitter plan relies on).
    Uses a tiny m so the guarantee is actually exercised."""
    import pandas as pd

    from map_reduce485_spark.queries.text_analysis import mg_merge_batch

    m = 8
    counters: dict[str, int] = {}
    size = max(1, len(stream) // n_batches)
    for i in range(0, len(stream), size):
        chunk = pd.Series(stream[i : i + size], dtype="object")
        counters = mg_merge_batch(counters, chunk, m)

    from collections import Counter as C

    exact = C(stream)
    for tok, cnt in exact.items():
        if cnt > len(stream) / (m + 1):
            assert tok in counters, (tok, cnt, len(stream))


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=100, max_size=400), st.binary(min_size=1, max_size=10))
def test_cdc_chunks_realign_after_insertion(doc, insertion):
    """The content-defined property itself: inserting bytes at the front
    changes at most the chunks BEFORE the first shared boundary — all
    boundaries after it realign, so the chunk-digest multisets overlap
    from the first post-insertion boundary on (fixed-size chunking would
    shift every boundary).  Also pins the partition invariants: chunks
    tile the payload exactly."""
    import pandas as pd

    from map_reduce485_spark.operators.chunking import cdc_chunks

    def chunks(payload):
        outs = list(
            cdc_chunks(iter([pd.DataFrame({"doc_id": [1], "payload": [payload]})]))
        )
        (out,) = outs
        out = out.sort_values("chunk_idx")
        # tiling invariants
        assert list(out.start_pos) == [0] + list(
            (out.start_pos + out.chunk_len).iloc[:-1]
        )
        assert int(out.chunk_len.sum()) == len(payload)
        assert (out.chunk_len > 0).all()
        return list(out.chunk_md5)

    orig = chunks(doc)
    shifted = chunks(insertion + doc)
    # every chunk of the original that starts at-or-after the original's
    # first boundary must reappear verbatim in the shifted doc's chunks
    if len(orig) > 1:
        tail = orig[1:]
        shifted_set = set(shifted)
        assert all(c in shifted_set for c in tail)


# ---------------------------------------------------------------------------
# exact substring dedup (round 12): position-cover semantics under fuzz
# ---------------------------------------------------------------------------


@st.composite
def _subdup_corpus(draw):
    """Corpora built from shared MOTIFS (>= L words, tiny alphabet) spliced
    with filler runs: motifs reused across/within docs create duplicated
    L-grams at arbitrary offsets, so seed runs land with every gap size —
    exactly the span-merge geometry the deterministic tests can only pin
    pointwise (gap 1 via families, gap 2 via the hand-built corpus)."""
    motifs = draw(
        st.lists(
            st.lists(st.sampled_from("abc"), min_size=20, max_size=26),
            min_size=1,
            max_size=3,
        )
    )
    docs = []
    for _ in range(draw(st.integers(min_value=2, max_value=5))):
        words: list[str] = []
        for _ in range(draw(st.integers(min_value=0, max_value=3))):
            if draw(st.booleans()):
                words.extend(draw(st.sampled_from(motifs)))
            else:
                words.extend(
                    draw(
                        st.lists(
                            st.sampled_from("xyzw"), min_size=0, max_size=12
                        )
                    )
                )
        docs.append(" ".join(words))
    return docs


def _cover_spans(texts: dict[int, str], L: int):
    """Position-cover reference: covered = union of duplicated-L-gram
    extents; spans = maximal runs of covered 1-based token positions."""
    from collections import Counter

    counts: Counter = Counter()
    grams = {}
    for doc_id, text in texts.items():
        w = [x for x in text.lower().split(" ") if x]
        grams[doc_id] = [tuple(w[i : i + L]) for i in range(len(w) - L + 1)]
        counts.update(grams[doc_id])
    spans, covered_by_doc = set(), {}
    for doc_id, gs in grams.items():
        covered: set[int] = set()
        for i, g in enumerate(gs):
            if counts[g] >= 2:
                covered.update(range(i + 1, i + L + 1))
        covered_by_doc[doc_id] = covered
        for p in sorted(covered):
            if p - 1 not in covered:
                e = p
                while e + 1 in covered:
                    e += 1
                spans.add((doc_id, p, e, e - p + 1))
    return spans, covered_by_doc


@given(docs=_subdup_corpus())
@_SETTINGS
def test_exact_substring_spans_and_apply_position_cover(
    spark, tmp_path_factory, docs
):
    """For ANY corpus, `dedup_exact_substring_spans` must equal the
    position-cover reference (maximal disjoint intervals of positions
    covered by a duplicated L-gram), and the apply twin must delete
    exactly the covered tokens of every doc — fuzzing the gap-<=-L seed
    merge and the row-local deletion lambda across arbitrary seed
    layouts."""
    from map_reduce485_spark.queries import REGISTRY, _load_all
    from map_reduce485_spark.queries.dedup import _SUBDUP_L

    _load_all()
    tmp = tmp_path_factory.mktemp("prop_subdup")
    rows = [
        (i + 1, t, "en", "t", len(t)) for i, t in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp / "documents.parquet"))
    texts = {i + 1: t for i, t in enumerate(docs)}
    want_spans, covered = _cover_spans(texts, _SUBDUP_L)
    got_spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in REGISTRY["dedup_exact_substring_spans"].fn(spark, str(tmp)).collect()
    }
    assert got_spans == want_spans
    arows = {
        r.doc_id: r
        for r in REGISTRY["dedup_exact_substring_apply"].fn(spark, str(tmp)).collect()
    }
    assert set(arows) == set(texts)  # every doc emits a row
    for doc_id, text in texts.items():
        w = [x for x in text.lower().split(" ") if x]
        keep = [x for i, x in enumerate(w) if i + 1 not in covered[doc_id]]
        r = arows[doc_id]
        assert (r.n_tokens, r.n_removed, r.n_kept) == (
            len(w),
            len(covered[doc_id]),
            len(w) - len(covered[doc_id]),
        )
        assert r.cleaned_text == " ".join(keep)


@given(
    vals=st.lists(
        st.integers(min_value=-5, max_value=5), min_size=1, max_size=300
    )
)
@_SETTINGS
def test_distributed_rank_matches_sorted_enumerate(spark, vals):
    """distributed_rank must be bit-identical to a sequential sorted
    enumerate for ANY value multiset — the tiny value domain forces heavy
    ties straddling range-partition boundaries, exactly the case the
    mandatory unique tiebreaker exists for (a boundary-dependent rank
    would corrupt every distributed_rank consumer: terciles, sweeps,
    KS/MWU, quantile exacts)."""
    from pyspark.sql import functions as F

    from map_reduce485_spark.queries._util import distributed_rank

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    ).repartition(7)
    got = {
        r.id: r.rk
        for r in distributed_rank(df, [F.col("v"), F.col("id")]).collect()
    }
    want = {
        i: rk + 1
        for rk, (v, i) in enumerate(sorted((v, i) for i, v in enumerate(vals)))
    }
    assert got == want
