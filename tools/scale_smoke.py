"""Scale smoke: run headline queries at ~10x sf0.1 (≈6M lineitem rows).

The driver's sf0.1 parquet is one row group per table, which caps scan
parallelism at 1 task regardless of cores — representative of a tiny file,
not of a cluster.  This tool synthesizes a 10x dataset with consistent join
keys (orderkey/custkey/partkey/suppkey co-scaled), written as multi-file
parquet so scans split, then times the headline query families on it.

What it demonstrates (the 100 TB questions, answered at the largest scale
this container holds):

- scans parallelize when the data has splits (32 scan tasks, not 1);
- join/agg plans hold their shape (broadcast dims stay broadcast, fact
  shuffles stay key-partitioned, AQE coalesces) at 10x the bench volume;
- dedup's LSH path absorbs a 10x corpus with ~10x work, not ~100x
  (no quadratic stage).

Run:  python tools/scale_smoke.py [--mult 10] [--record SCALE_SMOKE.json]
Output: one JSON line per query with rows + seconds, then a total; with
--record, the whole run is also written to one JSON artifact so scaling
regressions are visible round over round.

Measurement protocol (round-11 verdict item 1 — cache-state control): the
round-11 100x artifact mixed page-cache states across regens (first regen
timed freshly-written, page-cached parquet; the re-record read cold disk
after sink churn), putting 3-5x cold-read numbers on unchanged scan-bound
code that the drift gate could not adjudicate.  Every run now (a) WARMS the
page cache deterministically — every byte of every input file is read at
the OS level before any query is timed, so build-vs-skip-build runs measure
the same state — and (b) stamps the artifact `cache_state: "warmed"` plus a
bench-style `calibration_sec`; the drift gate REFUSES per-query comparison
against artifacts that predate the warmed protocol (no interpretation rule
needed) and normalizes its 1.5x threshold by the calibration ratio so a
slower box is divided out instead of read as regression (round-11 verdict
item 3).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path
from unittest import mock

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# measured numbers must include the real parquet scan, not a warmed cache
os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "0")

from pyspark.sql import functions as F

from map_reduce485_spark import get_spark
from map_reduce485_spark.catalog import load_table
from tools.measure import Meter

BASE_SF = "/root/testdata/sf0.1"
OUT = Path("/tmp/mr485_scale")

# key columns that must co-scale so joins stay consistent
_SCALE_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # 10x the user population over the same time range: sessions/funnels
    # scale in count, not in length (the realistic growth axis)
    "events": ["event_id", "user_id"],
}
_SMALL = ("region", "nation")  # fixed-size dims: copy, don't scale


def build(spark, mult: int) -> str:
    dest = OUT / f"x{mult}"
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    copies = spark.range(mult).withColumnRenamed("id", "_copy")
    for name, keys in _SCALE_KEYS.items():
        df = load_table(spark, BASE_SF, name).crossJoin(F.broadcast(copies))
        for k in keys:
            df = df.withColumn(k, F.col(k) * mult + F.col("_copy"))
        if name == "documents":
            # perturb text per copy so dedup sees near-dups, not exact clones
            df = df.withColumn(
                "text", F.concat(F.col("text"), F.lit(" v"), F.col("_copy"))
            )
        (
            df.drop("_copy")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(str(dest / f"{name}.parquet"))
        )
    for name in _SMALL:
        load_table(spark, BASE_SF, name).write.mode("overwrite").parquet(
            str(dest / f"{name}.parquet")
        )
    return str(dest)


_SAMPLED_RECALL = "dedup_lsh_recall_eval_sampled"
_PAGERANK_SHUFFLE = "pagerank_trade_graph_shuffle"


def warm_page_cache(sf_dir: str) -> dict:
    """Deterministic cache-state control (round-11 verdict item 1): read
    every byte of every input file at the OS level so the timed queries
    always measure page-cached scans, whether the dataset was just built
    (already warm) or reused via --skip-build after sink churn evicted it
    (the round-11 cold-disk trap).  OS-level reads, not Spark count() —
    parquet counts are metadata-only and would not touch the data pages.
    The dataset (~2 GB at 100x) is far under the box's RAM, so "warmed"
    is a stable, reproducible state; the artifact stamps it so the drift
    gate can refuse cross-state comparisons instead of needing an
    interpretation rule."""
    t0 = time.perf_counter()
    n_bytes = 0
    for p in sorted(Path(sf_dir).rglob("*")):
        if not p.is_file():
            continue
        with open(p, "rb") as f:
            while True:
                chunk = f.read(8 << 20)
                if not chunk:
                    break
                n_bytes += len(chunk)
    return {"bytes": n_bytes, "sec": round(time.perf_counter() - t0, 2)}


def build_recall_sample(spark, sf_dir: str, mult: int) -> str:
    """Dup-FAMILY-preserving sampled documents slice for the LSH recall
    eval: the generator scales doc_id as base*mult + copy, so sampling on
    (doc_id div mult) keeps every member of a dup family together — a
    per-row sample would sever the very near-dup pairs recall is measured
    on.  1/(5*mult) of families ⇒ the sampled corpus grows ~linearly with
    mult (10k docs at 10x, 100k at 100x) while the EXACT all-pairs side —
    the test-SF-only baseline the recall eval needs — stays tractable.
    This is precisely the production protocol the query's docstring
    prescribes (run the eval over a sampled slice)."""
    samp = OUT / f"x{mult}_recall_sample"
    mod = mult * 5
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.filter(F.expr(f"(doc_id div {mult}) % {mod} = 0"))
        .repartition(8)
        .write.mode("overwrite")
        .parquet(str(samp / "documents.parquet"))
    )
    return str(samp)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--record", default=None, help="also write one JSON artifact here")
    ap.add_argument("--skip-build", action="store_true", help="reuse the existing dataset")
    ap.add_argument("--runs", type=int, default=2, help="measured runs per query (best-of)")
    ap.add_argument("--names", nargs="*", default=None, help="subset of the smoke list")
    args = ap.parse_args()

    spark = get_spark("scale_smoke")
    meter = Meter(spark)
    if args.skip_build and (OUT / f"x{args.mult}").exists():
        sf_dir, build_sec = str(OUT / f"x{args.mult}"), 0.0
    else:
        t0 = time.perf_counter()
        sf_dir = build(spark, args.mult)
        build_sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({"step": "build", "mult": args.mult, "sec": build_sec}))
    warm = warm_page_cache(sf_dir)
    print(json.dumps({"step": "warm_page_cache", **warm}))
    # bench.py's calibration query stamps box speed into the artifact so the
    # drift gate can divide machine state out of cross-round ratios instead
    # of flagging a slower box as regression (round-11 verdict item 3)
    calibration_sec = meter.calibrate()
    print(json.dumps({"step": "calibrate", "sec": calibration_sec}))

    from map_reduce485_spark.queries import REGISTRY, _load_all

    _load_all()
    names = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q9_product_profit",
        "q21_waiting_suppliers",
        "wordcount",
        "training_data_pipeline",
        "decontaminate_eval_overlap",
        "bpe_train_merges",
        "dedup_minhash_lsh",
        # summary twin at the PRODUCTION GEOMETRY (64-bit fingerprint,
        # 4x16-bit chunks -> 65,536 buckets/band): the 16-bit twin's
        # 16-value bands made 3M-doc buckets at mult=100 and its verify
        # near-quadratic (913 s, 45% of the round-8 smoke) — the smoke now
        # measures the plan a cluster would actually run (79 s at 100x);
        # the 16-bit geometry stays as the sf-scale oracle pair + bench
        # entry (round-8 verdict item 2)
        "dedup_simhash_summary_wide",
        # df-capped scale twin (round-11, closing the round-10 verdict's one
        # weak item): the exact form's fingerprint self-join is C(df,2) per
        # fingerprint — quadratic in dup-family multiplicity (107 M pairs /
        # 386-440 s at 100x, ~30% of the whole smoke).  The cap bounds
        # per-fingerprint pair cost at C(16,2); the exact
        # dedup_winnowing_summary stays as the oracle-locked sf-scale
        # baseline twin (equality below the cap is pytest-pinned), same
        # move as the simhash wide-geometry swap in round 8.
        "dedup_winnowing_summary_capped",
        "dedup_incremental_arrivals",
        "multimodal_byte_histogram",
        "cosine_topk_bruteforce",
        "ann_ivf_pq_topk",
        "pagerank_trade_graph",
        "bloom_prefiltered_join",
        "cms_estimate_counts",
        "hll_estimate_distinct",
        "session_funnel",
        "dedup_clusters_star",
        "bfs_hops_trade_graph",
        "lm_familiarity_score",
        "approx_percentile_binned",
        "multimodal_image_ahash",
        # round-5 continuation operators
        "sssp_trade_graph",
        "mmr_diversified_topk",
        "rrf_fusion_topk",
        "multi_touch_attribution",
        "quantile_normalize_per_type",
        "embedding_random_projection",
        "multimodal_frame_delta_cuts",
        # round-7 rotation (verdict item 5): windows, sketches, events,
        # kcore and a relational/text spread — previously only 10x-proven
        "window_running_sum",
        "window_time_range_7d",
        "window_topk_per_group",
        "cms_build",
        "hll_registers",
        "events_sessionize",
        "funnel_conversion",
        "kcore_peeling",
        "dedup_exact",
        "topk_docs_per_lang",
        "tfidf_top_terms",
        "scd2_dimension_build",
        "lang_id",
        "quality_score",
        "rollup_agg",
        # round-8 additions: the sketch merge proofs (mergeability IS the
        # scale story, so they must hold at 100x), gram-DF boilerplate
        # scoring (two aggs + join on one gram exchange), and the linear
        # fertility scan.
        "cms_merge_sites",
        "hll_merge_days",
        "ngram_commonness",
        "tokenizer_fertility_by_lang",
        # round-9 rotation (round-8 verdict items 1/4/5): the full
        # banded-pairs -> star-clusters -> keep-best pipeline; SemDeDup at
        # the corpus-scaled k (k = n/256 holds expected cell size constant,
        # so the within-cell quadratic is ~n*256 — the fixed-k=16 twin stays
        # out, as before, since its cells grow with the corpus); the
        # distributed-rank consumers that replaced single-partition windows;
        # and the sampled LSH recall eval (special-cased below: recall is
        # THE number that decides whether 100 TB dedup can trust banding,
        # measured on a dup-family-preserving sampled slice exactly as the
        # query's docstring prescribes for production)
        "dedup_keep_best_star",
        "semdedup_prune_scaled_k",
        "token_balanced_shards",
        "dedup_sorted_neighborhood",
        # (quantile_normalize_per_type already rotates in the round-5 block
        # above — now measuring the distributed_rank pooled pass)
        "dedup_lsh_recall_eval_sampled",
        # round-10 rotation (round-9 verdict items 1/2/4/5): the two
        # queries converted out of the plan audit's aggregate-below
        # loophole — never smoke-tested before precisely because their old
        # single-partition-window shapes couldn't scale; the forced
        # shuffle-join pagerank (the size-conditional strategy's big-graph
        # path, special-cased below); and the oracle-gated two-level
        # assignment at its forced small k
        "peak_concurrency_sweep",
        "keyword_search_rank",
        "ann_two_level_assign",
        _PAGERANK_SHUFFLE,
        # round-10 continuation: the Gopher quality suite (corpus-linear,
        # one grouped explode — the per-doc filter stage a 100 TB pipeline
        # runs on everything), the bottom-k quantile sketch (merge proof
        # must hold at every scale like the other six algebras), seed-set
        # PPR (sparse iterative state vs pagerank's dense frame), and the
        # capped common-neighbor pair generator (pair volume must stay
        # ~linear in customers — the degree-cap claim, measured)
        "gopher_repetition_filters",
        "bottomk_quantile_sketch_merge",
        "ppr_seed_expansion",
        "link_prediction_jaccard",
        # continuation batch 2: clustering-quality eval (O(n*k*d) map
        # pass), the CCNet tercile split (distributed_rank consumer), and
        # the per-stratum bottom-k sampler (array-slice agg, state <= k)
        "kmeans_silhouette_eval",
        "familiarity_tercile_split",
        "stratified_bottomk_sample",
        # round-11 rotation: the capped winnowing twin replaces the exact
        # form above; the mid-decile calibration (one gram explode into one
        # conditional aggregation — the single-pass shape must stay linear);
        # the word-level Gopher gate (ZERO-exchange row-local map — the
        # per-doc filter pass a 100 TB pipeline runs on everything, and the
        # plan that must never grow a shuffle)
        "minhash_calibration_truncation_pairs",
        "gopher_quality_filters",
        # round-12 addition: exact substring-level dedup (Lee et al. 2022)
        # — the L-gram seed-cover plan must stay corpus-linear (one gram
        # exchange + same-key join-back + per-doc windows); the generator's
        # per-copy text perturbation leaves long shared prefixes, so dup
        # families produce real multi-seed spans at every mult
        "dedup_exact_substring_spans",
        # ...and its apply half: the cleaned-corpus emitter must stay a
        # doc_id-aligned join + row-local indexed-lambda filter (no
        # positional explode, no range join) at every mult
        "dedup_exact_substring_apply",
        # ...and the incremental ingest twin: per-batch cost must scale
        # with the ~1/16 arrivals (explode + index probe), never
        # corpus x corpus
        "dedup_exact_substring_incremental",
        # round-13 addition (round-12 verdict item 4): the paper's L=50
        # production constant over the same pipeline — gram volume is
        # ~n_tokens regardless of L, so this measures the production
        # geometry at the production shape even where the span set is
        # small/empty (the summary row keeps it sentinel-shaped)
        "dedup_exact_substring_spans_l50",
        # round-13 continuation: span-level eval decontamination (the
        # broadcast eval-gram probe must stay a map-side filter — zero
        # training-side wide shuffle at any mult); the most-duplicated-
        # passages report (two corpus scans by design: count on hashes,
        # then broadcast-probe the k winners for text); and the edit-
        # space SNM verify (linear candidates, bounded 256-char DP per
        # pair, JVM-side levenshtein)
        "decontaminate_substring_spans",
        "substring_top_duplicated",
        "dedup_editdist_verify",
    ]
    # scan-parallelism proof on the multi-file layout
    n_parts = load_table(spark, sf_dir, "lineitem").rdd.getNumPartitions()
    print(json.dumps({"step": "scan_partitions", "lineitem": n_parts}))

    # Results land in a parquet sink, not the driver: at 10x the dedup pair
    # sets exceed spark.driver.maxResultSize (every doc has `mult` near-copies
    # by construction, so pair output grows ~mult² per dup group — inherent to
    # pair-emitting dedup, which is why production pipelines go pairs →
    # clusters → keep-one before anything leaves the cluster).  Writing is
    # also the operation a real 100 TB job performs; row counts come from
    # parquet metadata afterwards.
    sink = str(OUT / "sink")

    def reset_state() -> None:
        """Per-entry state reset (round-12 verdict item 2): the r12 100x
        regen pair flagged 8 queries >1.5x BOTH WAYS on untouched code
        with a flat total — intra-suite cross-query state, not
        regressions (confirmed by standalone re-measures: all 8 inside
        their warm bands).  In a 73-entry serialized session the warmed
        input pages are progressively EVICTED by shuffle spill + sink
        churn (tens of GB per heavy query), so a query's scan state
        depended on how much churn its predecessors produced — i.e. on
        suite ORDER, which is exactly what mixed-direction ±30 s swings
        on unchanged code look like.  Before every entry: drop cached
        relations, nudge the ContextCleaner (shuffle files free when
        their RDDs are GC'd), and re-read every input byte so each query
        times the SAME warmed state the protocol promises regardless of
        its position in the suite (~1 s per entry at 100x, untimed).
        The measured state is unchanged — still 'warmed' — so artifacts
        stay drift-comparable with the round-12 baselines."""
        spark.catalog.clearCache()
        meter.release()
        warm_page_cache(sf_dir)

    if args.names:
        # validate up front: an unknown name is an error, a known-but-not-
        # in-the-smoke-list registry name is run anyway (explicit request),
        # and nothing is ever dropped silently (repo no-silent-caps rule)
        unknown = [
            n
            for n in args.names
            if n not in REGISTRY and n not in (_SAMPLED_RECALL, _PAGERANK_SHUFFLE)
        ]
        if unknown:
            ap.error(f"not in the query registry: {', '.join(unknown)}")
        names = list(args.names)
    # dedup_clusters_star was ENOSPC-skipped at mult>=50 through round 6.
    # The generator's copies are NEAR-dups (every copy's text is perturbed),
    # so exact-dup md5 contraction cannot collapse them (round-7 advice);
    # the shipped fix instead clusters the BANDED verified-pair stream
    # (dedup_minhash_lsh's output — whole-band digests put a dup family in
    # ~one bucket per band), which bounds the materialized edge set and
    # runs at every mult now (queries/dedup.py, SCALING.md "closed in
    # round 8").
    queries: dict[str, dict] = {}
    total = 0.0
    for name in names:
        reset_state()
        query, in_dir, env, extra = name, sf_dir, {}, {}
        if name == _SAMPLED_RECALL:
            t0 = time.perf_counter()
            query, in_dir = "dedup_lsh_recall_eval", build_recall_sample(spark, sf_dir, args.mult)
            extra["sample_build_sec"] = round(time.perf_counter() - t0, 2)
        elif name == _PAGERANK_SHUFFLE:
            # the size-conditional graph strategy's big-graph path, forced
            # by dropping the broadcast bound to 1 (round-9 verdict item 5):
            # every rank join runs as the co-partitioned shuffle join the
            # docstring describes — the plan a billion-node graph would get
            query, env = "pagerank_trade_graph", {"SPARK_GRAFT_GRAPH_BCAST_MAX": "1"}
        fn = REGISTRY[query].fn
        with mock.patch.dict(os.environ, env):
            meter.run(fn, in_dir, sink)  # warm (codegen/JIT), same protocol as bench.py
            # best-of-N: local JVM noise is ±10-50% under load
            runs = [meter.run(fn, in_dir, sink) for _ in range(args.runs)]
        best = min(r.wall for r in runs)
        total += best
        queries[name] = {"rows": runs[-1].rows, "sec": round(best, 2), **extra}
        if name == _SAMPLED_RECALL:
            row = spark.read.parquet(sink).collect()[0]  # 1-row output
            queries[name].update(
                n_exact=row.n_exact, n_lsh=row.n_lsh, n_common=row.n_common, recall=row.recall
            )
        print(json.dumps({"query": name, **queries[name]}))
    # Per-query drift gate vs the previous recorded artifact (round-10
    # verdict item 5 — the bench.py move applied to the smokes): flag
    # everything >1.5x its prior reading so a 4x run-variance outlier like
    # round 10's dedup_incremental_arrivals (83.5 s vs 21.2 s, unchanged
    # code) is adjudicated by the artifact, not by a manual re-measure.
    # The 1.5x threshold is wider than bench's 1.2x because the smokes run
    # best-of-2 on a loaded box over freshly rebuilt layouts (documented
    # noise bands: winnowing 318-440 s across round-10 regens).
    drift = None
    if args.record and Path(args.record).exists():
        try:
            prev = json.loads(Path(args.record).read_text())
            if prev.get("cache_state") != "warmed":
                # round-11 verdict item 1: an artifact without a controlled
                # cache state is not comparable per-query — refuse outright
                # instead of shipping flags that need an interpretation rule
                drift = {
                    "vs_artifact": str(args.record),
                    "prev_total": prev.get("value"),
                    "incomparable": (
                        "previous artifact predates the warmed-cache "
                        "protocol (no cache_state stamp); per-query drift "
                        "flags suppressed — this run establishes the first "
                        "warmed baseline"
                    ),
                }
            else:
                # normalize the threshold by box speed (round-11 verdict
                # item 3): cal_ratio > 1 means this box runs slower per
                # unit work than the baseline's, so raw ratios are scaled
                # down by it before flagging
                prev_cal = prev.get("calibration_sec")
                cal_ratio = (
                    round(calibration_sec / prev_cal, 3) if prev_cal else 1.0
                )
                prev_q = {
                    name: rec.get("sec")
                    for name, rec in prev.get("queries", {}).items()
                    if isinstance(rec, dict)
                }
                # flag only when BOTH the raw ratio and the box-speed-
                # normalized ratio exceed 1.5x: normalization must only
                # FORGIVE a slower box (cal_ratio > 1), never amplify
                # flags when the calibration happens to read fast — a
                # first regen with cal_ratio 0.708 turned 24 raw
                # 1.1-1.4x readings into >1.5x "normalized" flags, the
                # exact false-flag class the gate exists to kill
                # ...and by an ABSOLUTE floor (round 13): a ratio flag
                # must also move > 5 s of wall clock.  Same-session
                # best-of-N spread on sub-10 s queries reaches 3x with
                # unchanged code (dedup_simhash_summary_wide at 10x:
                # [1.95, 5.82] s across five same-HEAD measures — JVM/GC/
                # shuffle-spill noise, adjudicated in NOTES_r13), so a
                # 3-second swing carries no signal; the regressions the
                # gate exists for (e.g. the 100x 72->110 s class) move
                # tens of seconds and still flag.
                flagged = {}
                for name, rec in queries.items():
                    if not prev_q.get(name):
                        continue
                    raw = rec["sec"] / prev_q[name]
                    norm = raw / max(cal_ratio, 1e-9)
                    if min(raw, norm) > 1.5 and rec["sec"] - prev_q[name] > 5.0:
                        flagged[name] = {
                            "prev_sec": prev_q[name],
                            "now_sec": rec["sec"],
                            "ratio": round(raw, 3),
                            "cal_normalized_ratio": round(norm, 3),
                        }
                drift = {
                    "vs_artifact": str(args.record),
                    "prev_total": prev.get("value"),
                    "prev_calibration_sec": prev_cal,
                    "cal_ratio": cal_ratio,
                    "flagged_over_1p5x_normalized": flagged,
                }
        except Exception as exc:  # the gate must never fail the smoke itself
            drift = {"error": repr(exc)[:120]}
    summary = {
        "metric": "scale_smoke_total",
        "mult": args.mult,
        "value": round(total, 2),
        "unit": "sec",
        "build_sec": build_sec,
        "cache_state": "warmed",
        "per_query_rewarm": True,
        "warm": warm,
        "calibration_sec": calibration_sec,
        "lineitem_scan_partitions": n_parts,
        "drift": drift,
        "queries": queries,
        "notes": (
            "results go to a parquet sink (driver collect would cap at "
            "maxResultSize); dedup pair outputs grow ~mult^2 because every "
            "dup family is co-scaled by the generator — candidate generation "
            "itself stays bucket-bounded (banding), which is the property "
            "that matters at 100 TB"
        ),
    }
    print(json.dumps({k: summary[k] for k in ("metric", "mult", "value", "unit")}))
    if args.record:
        Path(args.record).write_text(json.dumps(summary, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
