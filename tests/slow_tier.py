"""Slow-tier test registry (r12 verdict item 2).

The driver's verification window could no longer fit the full suite
(r12: 1077 tests at ~44 min wall -> `tests_ok: false` by TIMEOUT, not
failure).  The tests below — every test that measured >= 7 s in the
r13 full-duration run, minus one kept representative per file so no
file loses default coverage entirely — are SKIPPED by default and run
when ``V6SPARK_SLOW=1`` is set (the round-end discipline runs both
tiers; see conftest.py::pytest_collection_modifyitems).

Nothing is deleted: ``V6SPARK_SLOW=1 python -m pytest tests/`` runs
the full 1000+ suite exactly as before.  ``test_slow_tier_registry.py``
checks that every entry still names a real test.
"""

import os

SLOW_TESTS = frozenset([
    "tests/test_bpe.py::test_pipeline_with_bpe_counts",
    "tests/test_branch_merge.py::test_merge_conflict_policies",
    "tests/test_branch_merge.py::test_merge_crash_windows_leave_main_untouched[before_adopt]",
    "tests/test_branch_merge.py::test_merge_crash_windows_leave_main_untouched[mid_apply]",
    "tests/test_branch_merge.py::test_merge_replays_branch_dml_onto_advanced_main",
    "tests/test_cdcagg.py::test_totals_track_recompute_through_dml",
    "tests/test_cdcagg.py::test_totals_track_recompute_through_dv_retract",
    "tests/test_clone_published.py::test_clone_pins_version_tag_and_carries_properties",
    "tests/test_codec_adapter.py::test_executor_side_adapter_via_env",
    "tests/test_codec_adapter.py::test_extract_features_routes_through_adapter",
    "tests/test_data_skipping.py::test_maintain_published_recluster_cycle",
    "tests/test_data_skipping.py::test_optimize_zorder_restores_skipping",
    "tests/test_data_skipping.py::test_optimize_zorder_string_and_date_columns",
    "tests/test_dedup_similarity.py::test_connected_keepers_hybrid_paths_agree",
    "tests/test_dedup_similarity.py::test_semantic_dedup_keepers_matches_bruteforce",
    "tests/test_deletion_vectors.py::test_dv_retract_chains_and_never_double_counts",
    "tests/test_deletion_vectors.py::test_dv_retract_rewrites_nothing[rename]",
    "tests/test_html_graph.py::test_html_to_graph_to_rank_composition",
    "tests/test_html_graph.py::test_pagerank_matches_numpy_reference[edge_list0]",
    "tests/test_html_graph.py::test_pagerank_matches_numpy_reference[edge_list1]",
    "tests/test_html_graph.py::test_pagerank_matches_numpy_reference[edge_list2]",
    "tests/test_ivf_committed.py::test_append_id_zero_is_a_real_transaction",
    "tests/test_ivf_committed.py::test_committed_build_append_crash_replay[put]",
    "tests/test_ivf_committed.py::test_committed_build_append_crash_replay[rename]",
    "tests/test_ivf_committed.py::test_committed_compact_and_vacuum",
    "tests/test_ivf_committed.py::test_committed_pruning_across_generations",
    "tests/test_ivf_committed.py::test_concurrent_appends_via_occ",
    "tests/test_ivf_index.py::test_build_query_parity_and_pruning",
    "tests/test_ivf_index.py::test_rebuild_is_deterministic",
    "tests/test_ivf_stateful.py::test_ivf_query_matches_bruteforce_on_probed_cells",
    "tests/test_ivf_stateful.py::test_kmeans_improves_quantization",
    "tests/test_ivf_stateful.py::test_kmeans_parallel_init_beats_lowest_id",
    "tests/test_ivf_stateful.py::test_kmeans_parallel_init_escapes_bad_local_optimum",
    "tests/test_ivf_stateful.py::test_stateful_session_counts_single_batch",
    "tests/test_ivfindex_source.py::test_committed_layout_and_file_skip",
    "tests/test_ivfindex_source.py::test_parity_with_python_helpers_plain_layout",
    "tests/test_ivfindex_source.py::test_sql_surface_and_validation",
    "tests/test_key_bloom.py::test_bloom_and_sketches_share_one_transaction",
    "tests/test_key_bloom.py::test_bloom_tables_survive_file_level_vacuum",
    "tests/test_key_bloom.py::test_blooms_follow_upsert_and_cow_retract",
    "tests/test_key_bloom.py::test_blooms_with_dv_retract_and_compact",
    "tests/test_manifest_offload.py::test_dv_map_offloads_with_files",
    "tests/test_manifest_offload.py::test_leased_offloaded_version_survives",
    "tests/test_media_fingerprint.py::test_poison_rows_do_not_kill_the_pipeline",
    "tests/test_media_fingerprint.py::test_prepare_media_corpus_end_to_end",
    "tests/test_multi_table_commit.py::test_crash_leaves_both_tables_pre_window[before_marker-put]",
    "tests/test_multi_table_commit.py::test_crash_leaves_both_tables_pre_window[before_marker-rename]",
    "tests/test_multi_table_commit.py::test_crash_leaves_both_tables_pre_window[between-put]",
    "tests/test_multi_table_commit.py::test_crash_leaves_both_tables_pre_window[between-rename]",
    "tests/test_multi_table_commit.py::test_overtaken_pair_aborts_and_concurrent_write_survives",
    "tests/test_multi_table_commit.py::test_pair_commits_atomically",
    "tests/test_multi_table_commit.py::test_pair_half_on_a_branch_records_the_branch_log",
    "tests/test_multi_table_commit.py::test_vacuum_sweeps_aborted_pairs_and_keeps_live_markers",
    "tests/test_multimodal_vcf_compute.py::test_multimodal_features_compose_with_similarity",
    "tests/test_optimize_published.py::test_maintain_uses_incremental_for_fragmentation",
    "tests/test_optimize_published.py::test_optimize_folds_only_fragmented_groups",
    "tests/test_optimize_published.py::test_optimize_keeps_pruning_and_lookup_surfaces",
    "tests/test_optimize_published.py::test_optimize_materializes_deletion_vectors",
    "tests/test_optimize_published.py::test_optimize_restores_training_order",
    "tests/test_pipeline.py::test_media_directory_to_webdataset_end_to_end",
    "tests/test_pipeline.py::test_pipeline_near_dedup_drops_templated_copies",
    "tests/test_pipeline.py::test_pipeline_quality_gates",
    "tests/test_properties.py::test_genomics_invariants_random_vcf",
    "tests/test_pubcdc_stream.py::test_batch_change_window_matches_stream_and_python",
    "tests/test_pubcdc_stream.py::test_exactly_once_replay_and_caught_up_restart",
    "tests/test_pubcdc_stream.py::test_stream_matches_changes_foreach_batch",
    "tests/test_pubcdc_stream.py::test_tail_only_and_option_validation",
    "tests/test_pubcdc_stream.py::test_timestamp_change_windows_match_version_windows",
    "tests/test_pubcorpus_source.py::test_bit_identical_through_lifecycle",
    "tests/test_publog.py::test_changes_foreach_batch_cdc",
    "tests/test_publog.py::test_changes_window_with_gap_predecessor_still_diffs",
    "tests/test_publog.py::test_stream_resumes_from_offset",
    "tests/test_read_leases.py::test_expired_lease_no_longer_protects",
    "tests/test_read_leases.py::test_lease_protects_file_granular_sweep_of_rewritten_files",
    "tests/test_read_leases.py::test_leased_version_survives_vacuum_and_reads_back",
    "tests/test_replication.py::test_mirror_applies_split_moves",
    "tests/test_replication.py::test_mirror_converges_through_dv_retract",
    "tests/test_replication.py::test_mirror_converges_through_lifecycle",
    "tests/test_replication.py::test_mirror_escapes_quoted_string_keys",
    "tests/test_replication.py::test_mirror_handles_backslash_keys",
    "tests/test_replication.py::test_mirror_handles_string_keys",
    "tests/test_replication.py::test_mirror_replay_is_exactly_once",
    "tests/test_restore_published.py::test_restore_by_tag_and_as_of",
    "tests/test_retraction.py::test_upsert_crash_noop_and_validation",
    "tests/test_retraction.py::test_upsert_then_retract_then_purge_chain",
    "tests/test_retraction.py::test_upsert_updates_in_place_and_inserts[put]",
    "tests/test_sampling.py::test_split_leakage_report",
    "tests/test_schema_evolution.py::test_upsert_after_evolution_requires_and_fills_new_column",
    "tests/test_sketch_store.py::test_compact_preserves_estimates_and_vacuum_sweeps",
    "tests/test_sketch_store.py::test_estimates_match_direct_sketches_exactly",
    "tests/test_streaming_neardedup.py::test_compact_vacuum_and_post_compaction_replay",
    "tests/test_streaming_neardedup.py::test_run_incremental_near_dedup_stream",
    "tests/test_trainshards.py::test_publish_corpus_per_split",
    "tests/test_txlog.py::test_publish_committed_crash_preserves_previous_version[put]",
    "tests/test_upsert_committed.py::test_upsert_committed_merge_and_replay[rename]",
])


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def repo_nodeid(path, nodeid: str) -> str:
    """A collected test's ID with its file path relative to the repo
    root, the form ``SLOW_TESTS`` lists.  pytest's own ``nodeid`` is
    relative to its rootdir, which is ``tests/`` for a run started
    there, so matching on it would let such a run miss every entry."""
    rel = os.path.relpath(str(path), REPO).replace(os.sep, "/")
    rest = nodeid.replace("::()::", "::").split("::", 1)[1]
    return f"{rel}::{rest}"
