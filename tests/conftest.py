from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Slow-test policy, centralized: the suite has outgrown a single 10-minute
# gate window (~16 min serial), so the long Spark-integration tests carry
# @slow and `pytest -m "not slow"` is the sub-5-minute smoke. Selection
# principle: property sweeps / recall measurements / crash-recovery drills /
# the two heaviest full-corpus oracle rows move out of the smoke; every
# operator keeps at least one fast witness AND its sf0.001 oracle
# differential in the smoke (nx + n06b excepted below — the driver re-runs
# every oracle at sf0.01 each round, so the in-repo copy of those two is a
# redundant safety net, not the gate).
# ---------------------------------------------------------------------------
_SLOW_TESTS = {
    # sf-dependent recalls / large-k scale drills
    "test_similarity.py::test_ivf_join_form_at_large_k_sf01",
    "test_similarity.py::test_srp_neardup_candidate_pruning_recall_vs_exact",
    "test_similarity.py::test_srp_neardup_planted_recall",
    "test_similarity.py::test_ivf_topk_recall",
    "test_similarity.py::test_ivf_recall_on_id_skewed_corpus",
    "test_pq.py::test_recall_vs_bruteforce",
    "test_pq.py::test_rescored_cosines_are_exact",
    "test_semantic_dedup.py::test_precision_is_exact",
    "test_semantic_dedup.py::test_keep_set_one_representative_per_cluster",
    "test_semantic_dedup.py::test_precomputed_centroids_skip_lloyd",
    # hypothesis property sweeps
    "test_dupspan.py::test_property_matches_bruteforce",
    "test_chunking.py::test_chunk_property_reassembly",
    "test_connected_components.py::test_matches_union_find_on_random_graphs",
    "test_xlsx_roundtrip_property.py::test_roundtrip_property",
    # crash-recovery / restart drills (streaming corpus + sink)
    "test_streaming_corpus.py::test_compaction_preserves_dedup_and_shrinks_layout",
    "test_streaming_corpus.py::test_near_dup_redelivery_idempotent",
    "test_streaming_corpus.py::test_inline_auto_compaction",
    "test_streaming_corpus.py::test_near_dup_rejected_across_batches",
    "test_streaming_corpus.py::test_streaming_end_to_end_with_restart",
    "test_streaming_corpus.py::test_compaction_crash_recovery",
    "test_streaming_corpus.py::test_compaction_keeps_top_batch_redeliverable",
    "test_streaming_corpus.py::test_legacy_install_direction_crash_keeps_complete_copy",
    "test_streaming_corpus.py::test_interval_join_feeds_corpus_builder_composition",
    "test_xlsx_sink.py::test_incremental_writer_memory_bounded",
    "test_xlsx_pushdown.py::test_end_to_end_per_query_reads",
    # streaming late-data replays
    "test_streaming.py::test_interval_join_late_data_both_sides",
    "test_streaming.py::test_multi_trigger_late_data_across_watermark",
    "test_streaming.py::test_stream_stream_interval_join_equals_batch",
    # heaviest full-corpus oracle rows (driver re-checks at sf0.01)
    "test_queries_oracle.py::test_query_matches_oracle[nx_scale_variants]",
    "test_queries_oracle.py::test_query_matches_oracle[n06b_embedding_neardup_srp]",
    # n10 joined this set round 5: 14 tagged branches (~40 s at sf0.001),
    # every branch oracle-backed and driver-re-checked at sf0.01; its
    # operators keep fast smoke witnesses in test_fingerprint/_linededup/
    # _web/_dupspan/_heavy_hitters/_budget_select/_skew.
    "test_queries_oracle.py::test_query_matches_oracle[n10_token_stats]",
    # fingerprint/linededup property sweeps (fast witnesses stay in smoke:
    # duckdb twin, winnowing guarantee, density bound, linededup fixtures)
    "test_fingerprint.py::test_spark_matches_python_reference",
    "test_fingerprint.py::test_winnow_pairs_matches_bruteforce",
    "test_fingerprint.py::test_max_hash_freq_drops_boilerplate",
    "test_linededup.py::test_matches_bruteforce_random",
    # full-pipeline composition drills (the stage/planted-row test stays
    # in smoke as the composition's fast witness)
    "test_pipeline.py::test_deterministic_under_partitioning",
    "test_pipeline.py::test_composes_with_packing_and_export",
    # misc heavy integration
    "test_dupspan.py::test_shared_boilerplate_span",
    "test_dupspan.py::test_identical_docs_fully_covered",
    "test_heavy_hitters.py::test_partitioning_invariance",
    "test_pq.py::test_codebook_shape_and_determinism",
    "test_ivf_index.py::test_indexed_search_matches_in_memory",
    "test_ivf_index.py::test_upsert_is_batch_proportional_and_searchable",
    "test_similarity.py::test_srp_neardup_subset_of_exact",
    "test_xlsx_pushdown.py::test_relation_reuse_boundary_pins_the_optin_rationale",
    "test_temporal.py::test_salted_as_of_matches_plain_on_hot_key",
    "test_streaming.py::test_xlsx_stream_incremental_arrival",
    # --- r15 retier (VERDICT r14 task 1: the 36-min full suite outgrew
    # the driver's verify budget; the default run is now the fast tier
    # via pytest.ini addopts, so the fast tier itself must land well
    # under 15 min). Every entry below is a heavy drill whose operator
    # keeps at least one faster witness in the default tier, measured
    # from the committed full-suite --durations run:
    "test_similarity.py::test_ivf_assign_carrier_matches_both_forms",   # 97s
    "test_ivfpq_index.py::test_rebuild_if_drifted_one_call_loop",       # 45s
    "test_queries_oracle.py::test_query_matches_oracle[n14b_stream_sliding]",  # 35s; driver re-checks at sf0.01
    "test_xlsx_comment_fuzz.py::test_any_comment_corruption_is_exact_or_loud",  # 41s fuzz campaign
    "test_pipeline.py::test_semantic_dedup_stage_planted",              # 29s; off-by-default/noop stage witnesses stay
    "test_ivfpq_index.py::test_upsert_returns_drift_report",            # 21s
    "test_ivfpq_index.py::test_sampled_training_builds_working_deterministic_index",  # 21s
    "test_xlsx_null_stats.py::test_garbled_nc_drops_to_unpruned_scan",  # 20s; other nc witnesses stay
    "test_pq.py::test_join_form_bit_identical_to_literal",              # 18s
    "test_ivfpq_index.py::test_drift_report_and_rebuild_trigger",       # 17s
    "test_auto_select.py::test_quantized_topk_auto_both_sides",         # 24s with setup
    "test_similarity.py::test_quantized_topk_at_sf01",                  # 16s, sf-dependent
    "test_ivfpq_index.py::test_indexed_rescored_matches_in_memory_bit_for_bit",  # 15s
    "test_xlsx_string_stats.py::test_garbage_sv_ignored_independently_of_st",   # 15s
    "test_xlsx_string_stats.py::test_stride_coarsened_stats_read_exact_and_still_prune",  # 14s
    "test_auto_select.py::test_build_auto_train_cap_scales_with_quantizer",  # 14s
    "test_gemm_score.py::test_gemm_keep_set_matches_expr",              # 14s; tolerance witness stays
    "test_gemm_score.py::test_index_builds_auto_select_gemm_and_serve",  # 14s
    "test_auto_select.py::test_index_builds_auto_train_cap",            # 13s; one auto_select witness stays
    "test_ivfpq_index.py::test_codes_scan_is_partition_pruned",         # 11s
    "test_ivfpq_index.py::test_adc_only_mode_reads_no_floats_and_ranks_sanely",  # 11s
    "test_ivfpq_index.py::test_vectorized_build_is_searchable_and_complete",  # 10s; full-probe + rescore stay
    "test_queries_oracle.py::test_query_matches_oracle[n20_dedup_clusters]",  # 9s; CC fast witnesses + driver sweep stay
    "test_xlsx_dense.py::test_cluster_cap_travels_through_real_spark_read",  # 8s; unit cluster-cap witnesses stay
    "test_similarity.py::test_blocked_bruteforce_ties_and_small_batches",  # 8s; other bruteforce witnesses stay
}

# The plan-pin sweep (tests/test_plans.py) builds the executed plan of the
# ENTIRE declared corpus in its module fixture (~1 min) — the per-test cost
# is trivial but the fixture is all-or-nothing, so the whole module rides
# in the slow tier. The scale contract it pins is compile-time-stable;
# the full suite (and every round's judge run) still exercises it.
_SLOW_FILES = {"test_plans.py"}


def pytest_collection_modifyitems(config, items):
    for item in items:
        rel = item.nodeid.split("/")[-1]
        base = rel.split("[")[0]
        if (
            rel in _SLOW_TESTS
            or base in _SLOW_TESTS
            or rel.split("::")[0] in _SLOW_FILES
        ):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from sheetreader_duckdb_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("sheetreader-tests", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
