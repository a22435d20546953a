from __future__ import annotations

import datetime as dt
import os

import pytest

from querysight_spark.schemas import QUERY_LOG_SCHEMA
from querysight_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"

# --- fast default profile (r15, VERDICT r14 ask #1) -------------------------
# The full suite takes ~50-60 min on this host class, which blew the
# driver's pytest time budget two rounds running (tests_ok could not be
# independently verified). Default profile: the multi-second property
# sweeps and index-maintenance algebra tests below are SKIPPED, keeping
# the default run under ~15 min while every operator still has its
# fast semantic tests; set QS_FULL_TESTS=1 for the complete suite
# (tools/verify_round.py does, so round-exit verification stays full).
# The list is the measured >=4 s call-duration set from the committed
# r15 durations run (plans/r15/pytest_durations_r15.txt); the oracle
# gate test is not listed — it self-reduces to a rotating subset
# instead (see tests/test_oracle_gate.py).
SLOW_TESTS = frozenset({
    "test_conflict_matrix.py::test_conflict_matrix[zorder-merge_disjoint]",
    "test_graph.py::test_landmark_distance_features_shape",
    "test_graph.py::test_ppr_mass_stays_near_seed",
    "test_invariants_r4.py::test_funnel_is_monotone_nonincreasing",
    "test_invariants_r4.py::test_gap_fill_accounting_invariant",
    "test_round11_ops.py::test_lazy_scan_prune_membership_equivalence",
    "test_round13_ops.py::test_rewrite_commits_silent_without_key_cols",
    "test_round6_ops.py::test_ann_serving_over_persisted_index",
    "test_round8_ops.py::test_key_filters_survive_zorder_and_compact",
    "test_scd2.py::test_merge_equals_batch_rebuild[splits1]",
    "test_search.py::test_upsert_appends_postings_and_rewrites_only_touched_termdf",
    "test_streaming.py::test_rollup_absorb_replay_is_idempotent",
    "test_streaming.py::test_session_absorb_merges_cross_batch_and_replay_idempotent",
    "test_timeseries.py::test_ewma_closed_form_matches_fold_within_tolerance",
    "test_versioned.py::test_feed_mv_sink_tails_manifest_log",
    "test_versioned.py::test_refresh_aggregate_mv_incremental_and_idempotent",
    "test_versioned.py::test_refresh_mv_from_feed_handles_updates_and_deletes",
    "test_versioned.py::test_streaming_sink_exactly_once_and_fresh_checkpoint_isolated",
    "test_versioned.py::test_zorder_table_multi_predicate_pruning",
    "test_analyze.py::test_cache_warm_start_and_bypass",
    "test_analyze.py::test_export_writes_json",
    "test_analyze.py::test_full_pipeline_results",
    "test_analyze.py::test_level_gating",
    "test_cli.py::test_analyze_levels",
    "test_cli.py::test_export_and_generate_model",
    "test_graph.py::test_cc_long_path_converges_fast",
    "test_graph.py::test_cc_matches_union_find_on_seeded_random_graph",
    "test_graph.py::test_cc_multiple_components_and_isolated_pair",
    "test_graph.py::test_label_propagation_deterministic_across_runs",
    "test_graph.py::test_multi_source_bfs_matches_per_source_runs",
    "test_graph.py::test_pagerank_one_iteration_hand_value",
    "test_graph.py::test_pagerank_star_center_dominates",
    "test_graph.py::test_pagerank_uniform_on_symmetric_cycle",
    "test_graph.py::test_ppr_two_seeds_split_teleport",
    "test_invariants_r4.py::test_pagerank_mass_conserved_on_random_graphs",
    "test_invariants_r5.py::test_checkpointed_streams_are_collectable",
    "test_invariants_r5.py::test_iterative_operators_release_internal_caches",
    "test_invariants_r5.py::test_ks_drift_cache_is_collectable",
    "test_operators.py::test_ann_recall_floor_on_clustered_fixture",
    "test_operators.py::test_ivfpq_batch_topk_exact_mode_and_adc_parity",
    "test_operators.py::test_nsw_graph_index_recall_and_pruning",
    "test_round10_ops.py::test_anchor_claim_race_loser_unlinks_sidecar",
    "test_round10_ops.py::test_auto_checkpoint_at_anchor_cadence",
    "test_round10_ops.py::test_key_filter_saturation_rebuild_recovers_pruning",
    "test_round10_ops.py::test_parquet_anchor_equals_json_anchor",
    "test_round10_ops.py::test_parquet_anchor_fold_and_hydrate",
    "test_round10_ops.py::test_parquet_anchor_never_carries_dead_files",
    "test_round10_ops.py::test_rollback_across_parquet_anchor_boundary",
    "test_round10_ops.py::test_rows_map_recorded_delta_folded_and_anchored",
    "test_round13_ops.py::test_change_feed_replays_table_property",
    "test_round13_ops.py::test_read_kf_cells_live_only_default",
    "test_round13_ops.py::test_rewrite_skip_does_not_diff",
    "test_round14_ops.py::test_change_feed_replays_table_with_rollback_property",
    "test_round14_ops.py::test_dvv_audit_detects_persisted_restamp",
    "test_round14_ops.py::test_live_set_cached_across_probes",
    "test_round14_ops.py::test_rewrite_then_evolve_empty_range_schema",
    "test_round6_ops.py::test_hnsw_adjacency_is_layer_partitioned",
    "test_round6_ops.py::test_hnsw_levels_are_geometric_and_deterministic",
    "test_round6_ops.py::test_hnsw_recall_pruning_and_flood_equals_brute",
    "test_round6_ops.py::test_hnsw_upsert_appends_into_layer_partitions",
    "test_round6_ops.py::test_hnsw_upsert_flood_equals_brute_over_merged_corpus",
    "test_round6_ops.py::test_hnsw_upsert_levels_match_fresh_build",
    "test_round6_ops.py::test_stream_index_absorb_replay_is_noop",
    "test_round8_ops.py::test_key_membership_filters_prune_unclustered_merges",
    "test_round9_ops.py::test_chunked_probe_matches_unchunked",
    "test_round9_ops.py::test_compound_key_merge_prunes_on_selective_column",
    "test_round9_ops.py::test_delta_manifests_fold_maps_and_hydrate",
    "test_round9_ops.py::test_manifest_metadata_never_carries_dead_files",
    "test_round9_ops.py::test_rollback_map_invariant_across_anchor_boundary",
    "test_scd2.py::test_merge_equals_batch_rebuild[splits2]",
    "test_search.py::test_delete_decrements_and_tombstones",
    "test_search.py::test_delete_drops_zero_df_terms_and_adjusts_stats",
    "test_search.py::test_delete_txn_crash_rollback_and_replay",
    "test_search.py::test_incremental_stats_exact_total",
    "test_search.py::test_upsert_delete_algebra_random_sequences",
    "test_search.py::test_upsert_txn_crash_rollback_and_replay",
    "test_search.py::test_upsertable_index_equals_full_build_probe",
    "test_streaming.py::test_stateful_anomalies_cross_batch_state",
    "test_streaming.py::test_stateful_anomalies_vectorized_matches_batch_exactly",
    "test_streaming.py::test_stateful_counts_accumulate_across_runs",
    "test_streaming.py::test_stateful_topk_cross_batch_eviction",
    "test_versioned.py::test_change_feed_insert_update_delete_and_physical_silence",
    "test_versioned.py::test_compact_folds_dvs_and_preserves_untouched_files",
    "test_versioned.py::test_dedup_sink_exactly_distinct_across_batches_and_replays",
    "test_versioned.py::test_optimize_bin_packs_small_files_only",
})


def _stale_slow_tests(config, collected: set[str]) -> list[str]:
    """SLOW_TESTS entries that name no collected test in a file that was
    collected whole (a ``file::test`` argument collects only part of one)."""
    if any("::" in str(a) for a in config.args):
        return []
    files = {name.split("::")[0] for name in collected}
    return sorted(
        t for t in SLOW_TESTS if t.split("::")[0] in files and t not in collected
    )


def pytest_collection_modifyitems(config, items):
    collected = {f"{item.fspath.basename}::{item.name}" for item in items}
    stale = _stale_slow_tests(config, collected)
    if stale:
        raise pytest.UsageError(
            "tests/conftest.py SLOW_TESTS names tests that were not collected "
            f"(renamed or removed?): {stale}"
        )
    if os.environ.get("QS_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow-profile test; set QS_FULL_TESTS=1 to run the full suite"
    )
    for item in items:
        if f"{item.fspath.basename}::{item.name}" in SLOW_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="querysight-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


@pytest.fixture(scope="session")
def query_log(spark):
    """Small deterministic query_log fixture matching FIXTURES.md §2.1."""
    rows = [
        # (id, query, normalized, kind, user, start, dur_ms, rr, rb, res_r, res_b, mem, db, dbs, tables, cols)
        ("q1", "SELECT * FROM orders WHERE o_orderkey = 1", "select * from orders where o_orderkey = ?",
         "SELECT", "alice", _ts(3, 1), 1500.0, 100, 1000, 1, 10, 512, "main", ["main"], ["orders"], ["o_orderkey"]),
        ("q2", "SELECT * FROM orders WHERE o_orderkey = 2", "select * from orders where o_orderkey = ?",
         "SELECT", "Bob", _ts(4, 2), 500.0, 90, 900, 1, 10, 256, "main", ["main"], ["orders"], ["o_orderkey"]),
        ("q3", "SELECT count(*) FROM analytics.daily_sales", "select count(*) from analytics.daily_sales",
         "SELECT", "alice", _ts(5, 3), 2500.0, 5000, 50000, 1, 8, 2048, "", ["analytics"], ["analytics.daily_sales"], []),
        ("q4", "INSERT INTO staging.raw_events VALUES (1)", "insert into staging.raw_events values (?)",
         "INSERT", "robot_etl", _ts(5, 4), 50.0, 0, 0, 0, 0, 128, "staging", ["staging"], ["staging.raw_events"], []),
        ("q5", "SELECT count(*) FROM analytics.daily_sales", "select count(*) from analytics.daily_sales",
         "SELECT", "carol", _ts(6, 5), 3500.0, 6000, 60000, 1, 8, 4096, "", ["analytics"], ["analytics.daily_sales"], []),
        ("q6", "SELECT 1", "select ?", "SELECT", "alice", _ts(6, 6), 5.0, 0, 0, 1, 1, 16, "", [], [], []),
    ]
    return spark.createDataFrame(rows, schema=QUERY_LOG_SCHEMA)
