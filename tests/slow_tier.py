"""The slow tier: tests excluded from the DEFAULT pytest selection.

The full suite outgrew the round driver's verify window (r15: 49-70
min wall; the driver's pytest was cut at ~67% with zero failures and
recorded `tests_ok: false` — VERDICT r15 item 3). `pytest.ini` selects
`-m "not slow"` by default (9:05, 353 tests on 4 cores; every module still
exercised); conftest marks the tests below from this one auditable
list. Run EVERYTHING with:

    python -m pytest tests/ -m "" -q

Regenerate after a durations run (the bar is call-time >= 8 s at
quiet-host local[32]):

    python -m pytest tests/ -q --durations=0 > durations.out

The long tail is dominated by the at-rest/streaming ledger round-trips
(1M-style probes, multi-round txn replays, full ingest-round oracle
replays) — correctness machinery, each still covered by the default
tier's smaller siblings and by the driver's own 50-row differential.
"""

SLOW_TESTS = frozenset([
    "tests/test_admin.py::test_list_and_remove_prefix",  # 9s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[crash_model_eval]",  # 9s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_cc_extend]",  # 27s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_dup_clusters]",  # 13s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_exact_against_corpus]",  # 9s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_exact_ingest_stream]",  # 18s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_forget_docs]",  # 35s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_ingest_round]",  # 100s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_ingest_stream]",  # 72s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_minhash_against_corpus]",  # 17s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_simhash_against_corpus]",  # 11s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[doc_simhash_ingest_stream]",  # 54s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_index_compact]",  # 17s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_index_delete]",  # 24s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_ivf_pruned]",  # 11s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_ivfpq_append]",  # 36s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_ivfpq_pruned]",  # 16s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_maintain_stream]",  # 27s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_pq_pruned]",  # 10s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_semantic_batched]",  # 17s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_semantic_dedup_against]",  # 10s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_semantic_ingest_round]",  # 20s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[emb_semantic_ingest_stream]",  # 28s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[pipeline_e2e]",  # 16s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[socrata_paged_scan]",  # 8s
    "tests/test_analytics_oracle.py::test_query_matches_oracle[streaming_ingest_e2e]",  # 16s
    "tests/test_forget.py::test_bare_txn_appends_replay_idempotent",  # 32s
    "tests/test_forget.py::test_bucket_size_refresh_never_newly_drops_multi_segment_buckets",  # 15s
    "tests/test_forget.py::test_delete_from_ivfpq_index_and_pq_refusal",  # 48s
    "tests/test_forget.py::test_forget_documents_simhash_layout",  # 14s
    "tests/test_forget.py::test_forget_nodes_relabels_and_preserves_star_property",  # 35s
    "tests/test_forget.py::test_forget_refreshes_bucket_size_stats",  # 13s
    "tests/test_forget.py::test_forget_refuses_inflight_txn",  # 11s
    "tests/test_forget.py::test_forget_scrubs_round_records",  # 31s
    "tests/test_forget.py::test_quiescence_guard_ignores_committed_txn_litter",  # 9s
    "tests/test_forget.py::test_replay_recovers_crashed_scrub_swap",  # 20s
    "tests/test_forget.py::test_skipped_replay_clears_committed_stage_litter",  # 31s
    "tests/test_graph.py::test_components_at_rest_extends_in_place",  # 23s
    "tests/test_graph.py::test_components_at_rest_new_comp_landing_in_foreign_partition",  # 10s
    "tests/test_graph.py::test_components_at_rest_prunes_scan_and_clears_emptied",  # 15s
    "tests/test_graph.py::test_components_at_rest_string_ids",  # 15s
    "tests/test_llm_ops.py::test_cross_run_ingest_round_composition",  # 34s
    "tests/test_llm_ops.py::test_fingerprints_at_rest_exact_cross_run_dedup",  # 9s
    "tests/test_llm_ops.py::test_minhash_ingest_round_one_call",  # 36s
    "tests/test_llm_ops.py::test_signature_table_compaction_probe_unchanged",  # 18s
    "tests/test_llm_ops.py::test_signatures_append_then_probe",  # 18s
    "tests/test_llm_ops.py::test_signatures_at_rest_cross_run_dedup",  # 11s
    "tests/test_llm_ops.py::test_signatures_hot_bucket_cap_is_scan_side",  # 10s
    "tests/test_llm_ops.py::test_simhash_64bit_production_width",  # 23s
    "tests/test_llm_ops.py::test_simhash_against_matches_in_frame_pairs",  # 9s
    "tests/test_llm_ops.py::test_simhash_index_at_rest_cross_run",  # 12s
    "tests/test_oracle_types.py::test_every_oracle_binds_and_yields_driver_stable_types",  # 15s
    "tests/test_plans.py::test_compact_index_ivf_restores_file_bound_probe_unchanged",  # 20s
    "tests/test_plans.py::test_compact_index_ivfpq_keeps_sort_and_probe",  # 18s
    "tests/test_plans.py::test_compact_index_pq_tables",  # 16s
    "tests/test_plans.py::test_describe_index_reports_all_three_kinds",  # 28s
    "tests/test_plans.py::test_drift_baseline_persists_with_index",  # 27s
    "tests/test_plans.py::test_indexed_rerank_carries_string_ids",  # 14s
    "tests/test_plans.py::test_ivf_append_equals_rebuild_with_saved_quantizer",  # 16s
    "tests/test_plans.py::test_ivf_index_at_rest_prunes_partitions",  # 10s
    "tests/test_plans.py::test_ivf_index_write_is_cluster_aligned",  # 15s
    "tests/test_plans.py::test_ivf_indexed_driver_probe_agrees_with_hof",  # 18s
    "tests/test_plans.py::test_ivfpq_append_equals_rebuild_and_bounds_files",  # 35s
    "tests/test_plans.py::test_ivfpq_encode_auto_resolves_by_scale",  # 32s
    "tests/test_plans.py::test_ivfpq_index_prunes_partitions_and_scans_codes_only",  # 23s
    "tests/test_plans.py::test_ivfpq_mid_band_cluster_count_is_single_regime",  # 20s
    "tests/test_plans.py::test_ivfpq_residual_encode_roundtrip",  # 37s
    "tests/test_plans.py::test_maintain_index_policy_round_ivf",  # 24s
    "tests/test_plans.py::test_maintain_index_pq_and_ivfpq_kinds",  # 50s
    "tests/test_plans.py::test_maintain_index_recovers_crashed_retrain_swap",  # 8s
    "tests/test_plans.py::test_maintain_index_txn_skips_replay_and_retrain_marker_is_atomic",  # 20s
    "tests/test_plans.py::test_pq_append_equals_rebuild_with_saved_codebook",  # 20s
    "tests/test_plans.py::test_pq_batched_encode_and_driver_lut_agree_with_hof",  # 17s
    "tests/test_plans.py::test_pq_index_at_rest_scans_codes_only_and_pushes_id_filter",  # 12s
    "tests/test_plans.py::test_recover_index_compaction_restores_crashed_swap",  # 22s
    "tests/test_plans.py::test_rerank_in_cap_regimes_agree",  # 11s
    "tests/test_plans.py::test_semantic_dedup_against_index",  # 39s
    "tests/test_plans.py::test_signature_table_probe_prunes_partitions",  # 15s
    "tests/test_plans.py::test_txn_append_completes_partial_move",  # 9s
    "tests/test_plans.py::test_txn_append_exactly_once_under_replay",  # 11s
    "tests/test_plans.py::test_txn_pq_append_moves_vectors_first",  # 13s
    "tests/test_properties.py::test_dedup_exact_against_matches_set_model",  # 27s
    "tests/test_properties.py::test_explode_pairs_matches_itertools_combinations",  # 8s
    "tests/test_properties.py::test_extend_components_matches_full_recompute",  # 26s
    "tests/test_properties.py::test_simhash_hamming_pigeonhole_complete",  # 20s
    "tests/test_properties.py::test_strip_boilerplate_matches_model",  # 10s
    "tests/test_semantic_ingest.py::test_semantic_dedup_against_return_release",  # 10s
    "tests/test_semantic_ingest.py::test_semantic_ingest_round_ivfpq",  # 44s
    "tests/test_semantic_ingest.py::test_semantic_ingest_round_sequential",  # 26s
    "tests/test_semantic_ingest.py::test_semantic_ingest_round_txn_replay_and_crash",  # 47s
    "tests/test_semantic_ingest.py::test_semantic_null_vector_batched_verify",  # 11s
    "tests/test_semantic_ingest.py::test_semantic_regime_matches_ivfpq_write_side",  # 41s
    "tests/test_semantic_ingest.py::test_semantic_verify_regime_parity",  # 28s
    "tests/test_semantic_ingest.py::test_stream_semantic_ingest_sequential_rounds",  # 68s
    "tests/test_stream_joins.py::test_dedup_within_watermark_stream_matches_batch",  # 12s
    "tests/test_stream_joins.py::test_interval_join_stream_matches_batch",  # 15s
    "tests/test_streaming.py::test_minhash_ingest_round_txn_replay_and_crash",  # 85s
    "tests/test_streaming.py::test_native_session_window_stream_emits_at_exact_watermark",  # 12s
    "tests/test_streaming.py::test_stream_append_to_ivf_index",  # 25s
    "tests/test_streaming.py::test_stream_fingerprint_ingest_rounds_and_replay",  # 46s
    "tests/test_streaming.py::test_stream_maintain_index_policy",  # 25s
    "tests/test_streaming.py::test_stream_minhash_ingest_sequential_rounds",  # 53s
    "tests/test_streaming.py::test_stream_simhash_ingest_rounds_and_replay",  # 107s
])
