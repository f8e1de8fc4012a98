from __future__ import annotations

import os

import pytest

from vector_databases___hydrate_chroma_db_collection_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Two-tier suite (r16, verdict item 3): the full suite grew to ~44
# minutes and the driver's verify budget truncated it mid-run
# (`VERIFY_r15.json tests_ok: false` with zero failure markers — an
# unverified green is not green). The heavyweight stress/lifecycle
# tests are marked `slow` (see pytest_collection_modifyitems below and
# per-file `pytestmark` declarations) and SKIPPED by default so the
# default `pytest tests/` run finishes inside the driver's budget; set
# SPARK_GRAFT_SLOW_TESTS=1 to run every tier (the builder's
# end-of-round discipline). No test is deleted; the slow tier is
# opt-in, not gone.
RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"

# Measured membership of the slow tier: every test whose (setup+call+
# teardown) duration reached 5 s in the r16 full-suite durations run
# (`plans/r16_pytest_durations.out`, 699 passed / 36.7 min total at
# local[8]). The criterion is duration alone — transparent and
# reproducible; re-derive with `pytest --durations=0` and regenerate
# this table when the suite's shape changes. Default tier: 565 tests /
# ~12 min. Slow tier: 114 tests / ~25 min, run with
# SPARK_GRAFT_SLOW_TESTS=1 (the builder's end-of-round discipline).
SLOW_TESTS = {
    "test_ann.py::test_gemm_neardup_auto_dispatches_to_ivf",
    "test_ann.py::test_ivf_append_incremental",
    "test_ann.py::test_ivf_append_restamps_collection_etag",
    "test_ann.py::test_ivf_balance_audit_flags",
    "test_ann.py::test_ivf_compact_bounds_files_and_preserves_serving",
    "test_ann.py::test_ivf_persisted_index_prunes_partitions",
    "test_ann.py::test_ivf_read_raises_stale_after_update",
    "test_ann.py::test_ivf_rebuild_is_atomic_for_readers",
    "test_ann.py::test_lsh_buckets_deterministic_and_bounded",
    "test_band_delete.py::test_append_of_tombstoned_id_refused_until_compact",
    "test_band_delete.py::test_append_reintroduction_unretires_keys",
    "test_band_delete.py::test_apply_drains_queue_with_caller_precedence",
    "test_band_delete.py::test_band_index_apply_batch_mutation",
    "test_band_delete.py::test_band_index_apply_refusals",
    "test_band_delete.py::test_band_maintenance_tombstone_trigger",
    "test_band_delete.py::test_compact_purges_and_rederives_keys",
    "test_band_delete.py::test_defer_then_delete_drops_queue_entry",
    "test_band_delete.py::test_defer_updates_queue_and_compact_drain",
    "test_band_delete.py::test_delete_ungates_unshared_content_only",
    "test_band_delete.py::test_masked_reads_and_replay_noop",
    "test_band_delete.py::test_part_versions_monotonic_across_compactions",
    "test_band_delete.py::test_refcount_delete_after_append_exact",
    "test_band_delete.py::test_refcount_layout_and_decs_recording",
    "test_band_delete.py::test_semantic_gate_masks_tombstoned_vectors",
    "test_band_delete.py::test_stamped_delete_restamps_and_fences",
    "test_band_delete.py::test_tagged_replay_bypasses_band_tombstone_refusal",
    "test_band_index.py::test_band_index_append_double_ingest_idempotent",
    "test_band_index.py::test_band_index_append_expected_prev_etag",
    "test_band_index.py::test_band_index_append_heals_mid_job_commit_tear",
    "test_band_index.py::test_band_index_append_in_batch_duplicate_ids",
    "test_band_index.py::test_band_index_append_incremental",
    "test_band_index.py::test_band_index_append_records_per_tag_contribution",
    "test_band_index.py::test_band_index_append_torn_replay_exactly_once",
    "test_band_index.py::test_band_index_compact_bounds_files_and_preserves_content",
    "test_band_index.py::test_band_index_foreign_batch_does_not_clear_torn_marker",
    "test_band_index.py::test_band_index_rebuild_changes_bucket_spec_same_session",
    "test_band_index.py::test_band_index_roundtrip_stale_and_refresh",
    "test_band_index.py::test_band_index_torn_tagged_append_reuses_first_attempt_record",
    "test_band_index.py::test_bucket_keys_gate_equals_full_bands_gate",
    "test_band_index.py::test_bucketed_gate_no_corpus_exchange",
    "test_band_index.py::test_novelty_gate_excluding_replay_stable",
    "test_cdc_stream.py::test_cdc_crash_between_collection_commit_and_index_heals",
    "test_cdc_stream.py::test_cdc_crash_mid_mutations_heals_on_replay",
    "test_cdc_stream.py::test_cdc_delete_insert_null_field_clears_stored_value",
    "test_cdc_stream.py::test_cdc_dual_index_with_band_text_updates",
    "test_cdc_stream.py::test_cdc_net_state_delete_then_insert_of_held_id",
    "test_cdc_stream.py::test_cdc_net_state_insert_then_update_of_new_id",
    "test_cdc_stream.py::test_cdc_outcomes_and_application",
    "test_cdc_stream.py::test_cdc_replay_republishes_and_converges",
    "test_cdc_stream.py::test_cdc_resurrects_deleted_id_via_upsert",
    "test_cdc_stream.py::test_cdc_stream_end_to_end",
    "test_cdc_stream.py::test_cdc_wal_retains_other_sinks_done_entries",
    "test_chroma_api.py::test_band_index_refuses_documentless_batches",
    "test_chroma_api.py::test_collection_add_upsert_keep_ivf_index_servable",
    "test_fence_stress.py::test_two_process_append_delete_race_converges",
    "test_fence_stress.py::test_two_writer_append_fence_loses_then_retries",
    "test_fence_stress.py::test_two_writer_delete_one_winner_loser_retries",
    "test_graph_ann.py::test_batch_filtered_front_door",
    "test_graph_ann.py::test_filtered_front_door_kfill_and_cellkill",
    "test_graph_ann.py::test_graph_append_rebuilds_touched_cells",
    "test_hydrate.py::test_near_dup_policy_skip_and_error",
    "test_hydrate.py::test_semantic_dup_gate_skip_error_and_stale",
    "test_idguard.py::test_band_compact_resizes_filter",
    "test_idguard.py::test_band_index_audit_flags_and_compact_resets",
    "test_idguard.py::test_cohabiting_ivf_and_pq_indexes_keep_each_others_filters",
    "test_idguard.py::test_custom_sized_filter_capacity_in_audit",
    "test_idguard.py::test_hash_spec_mismatch_falls_back_to_exact",
    "test_ivf_delete.py::test_collection_delete_indexed_both_index_kinds",
    "test_ivf_upsert.py::test_collection_update_indexed_band_text_modes",
    "test_ivf_upsert.py::test_collection_update_indexed_front_door",
    "test_maintenance.py::test_band_maintenance_defers_on_foreign_torn_append",
    "test_maintenance.py::test_crash_mid_compaction_heals_on_replay",
    "test_maintenance.py::test_ivf_maintenance_compacts_on_file_growth",
    "test_maintenance.py::test_novelty_loop_auto_compacts_exactly_once",
    "test_maintenance.py::test_semantic_loop_recall_audit_feeds_refresh_verdict",
    "test_maintenance.py::test_semantic_loop_surfaces_refresh_verdict",
    "test_opq.py::test_opq_append_and_upsert_rotate_consistently",
    "test_opq.py::test_opq_recall_up_at_identical_bytes",
    "test_oracle.py::test_all_queries_run_and_return_rows",
    "test_oracle.py::test_oracle[collection_cdc_apply_indexed]",
    "test_oracle.py::test_oracle[collection_export_import_with_index]",
    "test_oracle.py::test_oracle[collection_ivfpq_append_compact_serve]",
    "test_oracle.py::test_oracle[collection_two_writer_fence]",
    "test_oracle.py::test_oracle[dedup_band_index_apply_gate]",
    "test_oracle.py::test_oracle[dedup_band_index_audit]",
    "test_oracle.py::test_oracle[dedup_band_index_delete_gate]",
    "test_oracle.py::test_oracle[dedup_neardup_gate_compacted]",
    "test_oracle.py::test_oracle[sql_recursive_dup_closure]",
    "test_oracle.py::test_oracle[stream_cdc_dual_index_loop]",
    "test_oracle.py::test_oracle[stream_cdc_ingest_loop]",
    "test_oracle.py::test_oracle[stream_ivf_ingest_loop]",
    "test_oracle.py::test_oracle[stream_novelty_ingest_loop]",
    "test_oracle.py::test_oracle[stream_novelty_maintained_loop]",
    "test_oracle.py::test_oracle[stream_semantic_ingest_loop]",
    "test_pq_batch_filtered.py::test_batch_pq_kfill_and_exactness",
    "test_pq_batch_filtered.py::test_expansion_stats_all_six_serving_paths",
    "test_recall_audit.py::test_ivf_pq_recall_audit_sees_drift_saturation_cannot",
    "test_retrieval.py::test_phrase_bm25_batch_equals_single_path",
    "test_shingle_arrow.py::test_shingle_arrow_matches_expression_random",
    # 9.3-11.3 s per kind (ivf, ivf_pq, graph) in a test_store.py run
    "test_store.py::test_cells_index_lifecycle",
    "test_streaming.py::test_stream_cms_matches_batch_sketch",
    "test_streaming.py::test_stream_hydrate_upsert_with_ts_col_latest_wins",
    "test_streaming.py::test_stream_novelty_ingest_loop_across_batches",
    "test_streaming.py::test_stream_novelty_ingest_replay_keeps_redelivered_dup_verdict",
    "test_streaming.py::test_stream_novelty_serve_matches_batch",
    "test_streaming.py::test_stream_semantic_in_batch_duplicate_rows_one_verdict",
    "test_streaming.py::test_stream_semantic_ingest_loop_and_replay_stability",
    "test_streaming.py::test_stream_semantic_ingest_restart_is_not_a_replay",
    "test_streaming.py::test_stream_semantic_ingest_through_real_stream",
    "test_streaming.py::test_stream_vector_ingest_loop_across_batches",
    "test_vector.py::test_int8_quantization_bounds",
    "test_vector.py::test_vector_properties",
}



def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight stress/lifecycle test; skipped unless "
        "SPARK_GRAFT_SLOW_TESTS=1",
    )


def _stale_slow_entries(config, items) -> list[str]:
    """SLOW_TESTS entries whose file was collected whole but which
    match no collected test — a renamed or deleted test, or a dropped
    parametrization. Files narrowed to single tests on the command
    line (``file.py::test``) are not judged."""
    narrowed = {
        os.path.basename(a.split("::")[0]) for a in config.args if "::" in a
    }
    files, collected = set(), set()
    for item in items:
        nid = item.nodeid.split("/")[-1]
        files.add(nid.split("::")[0])
        collected.update((nid, nid.split("[")[0]))
    return sorted(
        e
        for e in SLOW_TESTS
        if e.split("::")[0] in files - narrowed and e not in collected
    )


# tryfirst: judge the entries against the whole collection, before
# -k/-m deselection narrows it
@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    stale = _stale_slow_entries(config, items)
    if stale:
        raise pytest.UsageError(
            "SLOW_TESTS entries match no collected test (renamed or "
            "deleted?): " + ", ".join(stale)
        )
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        nid = item.nodeid.split("/")[-1]
        if (
            "slow" in item.keywords
            or nid in SLOW_TESTS
            or nid.split("[")[0] in SLOW_TESTS
        ):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="vdb-tests", master="local[8]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_CORRECT}/{name}.parquet')"
        )
    yield con
    con.close()
