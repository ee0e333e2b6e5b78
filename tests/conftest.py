from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from map_reduce485_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def run_python(code: str) -> list[str]:
    """stdout lines of ``python -c code`` with a 4-cpu engine config, for
    tests that need a Spark session of their own."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.splitlines()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from tools.verify_local import open_oracle

    return open_oracle(SF_CORRECT)


# ---------------------------------------------------------------------------
# slow-test marking (round-13 verdict item 6): the driver's verify window is
# bounded and the full suite outgrew it.  Tests measured >= ~5 s in the
# round-14 full-run durations artifact (/tmp not committed; values in
# OPTIMIZATION_r14.md) carry the `slow` marker via this nodeid list — a
# central list because most of them are single parametrizations of big
# parametrized groups.  pyproject's addopts deselects `slow` by default;
# `-m "slow or not slow"` runs everything.
# ---------------------------------------------------------------------------

_SLOW_NODEIDS = {
    "test_plans.py::test_plan_audit_green",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[kcore_peeling]",
    "test_cluster.py::test_cluster_lifecycle_end_to_end",
    "test_queries.py::test_silhouette_bounds_and_recompute",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[ngram_commonness]",
    "test_queries.py::test_keep_best_star_matches_baseline_on_shared_clusters",
    "test_properties.py::test_exact_substring_spans_and_apply_position_cover",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[streaming_python_source_gate]",
    "test_bucketing.py::test_bucketed_scratch_cross_process_safe",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[dedup_survivorship_by_lang]",
    "test_bpe.py::test_bpe_hand_computed_merges",
    "test_fault_tolerance.py::test_task_reexecution_preserves_output",
    "test_properties.py::test_star_components_matches_union_find_random_graphs",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[degree_assortativity]",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[dedup_simhash_summary_wide]",
    "test_zorder.py::test_zorder_prunes_both_dimensions",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[cluster_safe_split]",
    "test_plans.py::test_graph_shuffle_path_when_nodes_exceed_bound",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[streaming_outer_join_gate]",
    "test_bucketing.py::test_bucketed_gate_query_single_exchange",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[dedup_lsh_band_sweep]",
    "test_streaming.py::test_streaming_outer_join_emits_unmatched_views",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[streaming_session_ttl_gate]",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[streaming_interval_join_gate]",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[sssp_trade_graph]",
    "test_queries.py::test_scoped_caches_release_storage",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[dedup_cluster_size_histogram]",
    "test_sources.py::test_python_datasource_partition_boundaries",
    "test_queries.py::test_cluster_safe_split_no_leakage_and_covers_corpus",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[streaming_continuous_aggregate_gate]",
    "test_oracle_dtypes.py::test_oracle_dtype_kinds_agree[mmr_diversified_topk]",
    "test_streaming.py::test_foreach_batch_upsert_recovers_mid_swap_crash",
    "test_queries.py::test_kmeans_deterministic_and_converges",
    "test_queries.py::test_familiarity_terciles_balanced_and_ordered",
    "test_compact.py::test_compact_small_files",
    "test_queries.py::test_stratified_sample_nesting_and_uniformity",
    "test_streaming.py::test_stream_session_ttl_equals_sessionize",
    "test_mapreduce.py::test_reduce_side_sort_spills_with_same_output",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        nid = item.nodeid.split("tests/")[-1]
        if nid in _SLOW_NODEIDS:
            item.add_marker(pytest.mark.slow)
