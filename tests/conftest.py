from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

#: Driver-gate subset (r15 verdict #3): the full suite takes ~45 min,
#: which overflows the driver's verify window and made `tests_ok`
#: false every round REGARDLESS of suite health (the r15 tail
#: truncated at ~47% with zero failures). The default run therefore
#: defers the slowest long-lifecycle tests — each a minutes-long
#: end-to-end composition whose OPERATORS every remaining file still
#: covers (the CLI keeps one door test; index/dedup/curve files keep
#: all their unit + property tests) — bringing the default run inside
#: the driver window. `FULL_SUITE=1 python -m pytest tests/` runs
#: everything; the builder runs that before each round-end commit.
#: Durations measured 2026-08-18 (contended full run, 2539 s total;
#: this list saves ~1450 s).
SLOW_DEFERRED = {
    "test_cli.py::test_cli_ingest_search_stats_clear",          # 270.8s
    "test_cli.py::test_cli_build_index_and_retrain",            # 222.7s
    "test_cli.py::test_cli_indexed_hybrid_lifecycle",           # 185.9s
    "test_adc_curve.py::test_curve_is_persisted_monotone_and_ends_exact",  # 79.3s
    "test_sigstore_compaction.py::test_engine_lexical_batches_fold_and_decisions_unchanged",  # 73.9s
    "test_cli.py::test_cli_push_jsonl_with_dedup",              # 63.3s
    "test_adc_curve.py::test_engine_target_adc_recall_and_retrain_carry",  # 41.8s
    "test_cli.py::test_cli_push_content_only_rows_get_unique_identities",  # 40.9s
    "test_pq.py::test_engine_ivfadc_index_path",                # 36.4s
    "test_cli.py::test_cli_transactional_verbs_fail_clean_on_plain_store",  # 34.4s
    "test_transactional_index.py::test_compact_supersedes_but_preserves_results",  # 31.2s
    "test_adc_curve.py::test_staleness_budget",                 # 29.9s
    # depends on the curve persisted by test_curve_is_persisted_* above
    "test_adc_curve.py::test_shortlist_resolution_and_validation",
    "test_dedup.py::test_ingest_lexical_and_semantic_compose",  # 25.4s
    "test_transactional_index.py::test_engine_transactional_index_rebuild_and_swap",  # 23.2s
    "test_transactional_index.py::test_corpus_and_codes_commit_together",  # 22.0s
    "test_mrl_dial.py::test_engine_diverse_and_hybrid_mrl_symmetry",  # 20.4s
    "test_ivf_append.py::test_append_extends_pq_codes_table",   # 18.7s
    "test_recall_curve.py::test_engine_retrain_remeasures_curve",  # 18.6s
    "test_ivf_index.py::test_filtered_ann_on_adc_path",         # 17.5s
    "test_transactional_index.py::test_stream_ingest_indexed_exactly_once",  # 17.4s
    "test_hybrid_search.py::test_hybrid_indexed_arms_match_brute_at_full_probe",  # 17.1s
    "test_dedup.py::test_ingest_lexical_recrawl_changed_content_supersedes_sig",  # 17.0s
    "test_pq.py::test_adc_query_batch_guard",                   # 17.0s
    "test_transactional_index.py::test_stream_retrain_carries_recall_curve",  # 16.3s
    "test_mrl_dial.py::test_mrl_curve_persisted_stamped_and_ends_exact",  # 15.9s
    "test_mrl_dial.py::test_engine_retrain_remeasures_mrl_curve",  # 15.7s
    "test_index_stats.py::test_build_ivf_index_drops_previous_metadata",  # 15.6s
    "test_mmr.py::test_single_diverse_use_index_matches_brute_at_full_probe",  # 15.4s
    "test_ivf_append.py::test_pq_frozen_encode_matches_model_encode",  # 15.1s
    "test_recall_curve.py::test_engine_target_recall_resolution_and_explicit_wins",  # 14.7s
    "test_transactional_index.py::test_compact_race_preserves_concurrent_epoch",  # 14.6s
    # depend on the mrl curve persisted by the deferred
    # test_mrl_curve_persisted_stamped_and_ends_exact
    "test_mrl_dial.py::test_mrl_dim_for_recall_resolution_and_validation",
    "test_mrl_dial.py::test_index_search_fulldim_mrl_equals_exact",
    # 6-14 s band: redundant lifecycle/heal/staleness VARIANTS whose
    # operator each file still covers with a faster sibling (the
    # engine heal family keeps one lexical + one semantic test; math
    # parity tests — kmeans transform, ADC reconstruction, exhaustive
    # pruned-vs-brute, pack property — all stay in the gate)
    "test_transactional_index.py::test_maybe_retrain_preserves_pq_family",  # 13.6s
    "test_store_model.py::test_store_matches_model_over_random_ops[91]",  # 12.9s
    "test_dedup.py::test_ingest_lexical_heal_detects_content_change",  # 12.7s
    "test_recall_curve.py::test_plain_inplace_rebuild_replaces_stale_curve",  # 11.9s
    "test_transactional_index.py::test_maybe_retrain_rebuilds_on_drift",  # 11.4s
    "test_mrl_dial.py::test_engine_target_mrl_recall_resolution_and_explicit_wins",  # 10.6s
    "test_dedup.py::test_append_documents_concurrent_pushes_serialized",  # 10.3s
    "test_streaming.py::test_retrain_check_cadence",  # 10.0s
    "test_fsck.py::test_stale_curve_stamp_found",  # 9.8s
    "test_lex_index.py::test_compaction_registers_append_crossed_hot_terms",  # 9.8s
    "test_ivf_append.py::test_engine_append_pq_codes_survive_cache_invalidation",  # 9.4s
    "test_transactional_index.py::test_engine_rebuild_carries_txn_ids",  # 9.3s
    "test_store_model.py::test_store_matches_model_over_random_ops[7]",  # 9.3s
    "test_ivf_append.py::test_engine_append_heals_interleaved_ingests_but_not_deletes",  # 9.3s
    "test_ivf_index.py::test_engine_indexed_search_staleness_guard",  # 9.1s
    "test_dedup.py::test_ingest_semantic_dedup_heals_stale_index",  # 8.7s
    "test_dedup.py::test_ingest_lexical_dedup_heals_stale_artifact",  # 8.7s
    "test_transactional_index.py::test_stream_indexed_retrain_on_drift",  # 8.6s
    "test_ivf_append.py::test_engine_append_to_index_clears_staleness",  # 8.6s
    "test_sigstore_compaction.py::test_heal_after_fold",  # 8.3s
    "test_store_model.py::test_store_matches_model_over_random_ops[23]",  # 8.3s
    "test_transactional_index.py::test_blind_reingest_store_builds_unique_index",  # 8.0s
    "test_hybrid_search.py::test_lex_index_staleness_guard",  # 7.9s
    "test_dedup.py::test_ingest_semantic_dedup_pruned_matches_brute",  # 7.9s
    "test_streaming.py::test_stream_ingest_dedup_same_path_recrawl_one_epoch",  # 7.9s
    "test_recall_curve.py::test_rebuild_publishes_only_after_remeasure",  # 7.4s
    "test_dedup.py::test_ingest_racing_push_keeps_both_writers_sig_coverage",  # 7.4s
    "test_mrl_dial.py::test_mrl_staleness_budget",  # 7.1s
    "test_lex_index.py::test_engine_heal_and_orphan_contract",  # 6.8s
    "test_dedup.py::test_ingest_lexical_stale_params_artifact_self_invalidates",  # 6.5s
    "test_recall_curve.py::test_staleness_stamp_and_budget",  # 6.5s
    "test_dedup.py::test_ingest_dedup_failed_index_open_restores_no_index_state",  # 6.4s
    "test_lex_index.py::test_engine_append_postings_survive_cache_invalidation",  # 6.3s
    "test_transactional_index.py::test_carry_txn_ids_dedups_and_is_invisible_to_readers",  # 6.0s
    "test_lex_index.py::test_heal_detects_content_change",  # 6.0s
    "test_dedup.py::test_ingest_semantic_dedup_opens_published_index",  # 6.0s
}


def _stale_deferrals(config, items) -> list[str]:
    """SLOW_DEFERRED entries that name no test: the file is gone, or it
    was collected (so its tests are known) and holds no such node. A
    run selecting single nodes (``file.py::test``) checks only the
    missing-file case; files that failed to import are not judged."""
    collected = {item.nodeid.split("/")[-1] for item in items}
    files = {nodeid.split("::")[0] for nodeid in collected}
    by_node = any("::" in str(a) for a in config.args)
    tests_dir = os.path.dirname(__file__)
    stale = []
    for entry in sorted(SLOW_DEFERRED):
        fname = entry.split("::")[0]
        if not os.path.exists(os.path.join(tests_dir, fname)):
            stale.append(entry)
        elif fname in files and not by_node and entry not in collected:
            stale.append(entry)
    return stale


# tryfirst: judge the full collection, before `-k`/`-m` deselect items
@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    stale = _stale_deferrals(config, items)
    if stale:
        raise pytest.UsageError(
            "SLOW_DEFERRED names tests that were not collected (renamed "
            "or removed?) — update tests/conftest.py: " + ", ".join(stale)
        )
    if os.environ.get("FULL_SUITE"):
        return
    skip = pytest.mark.skip(
        reason="driver-gate subset: deferred long-lifecycle test "
        "(FULL_SUITE=1 runs everything)"
    )
    for item in items:
        rel = item.nodeid.split("/")[-1]
        if rel in SLOW_DEFERRED:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    # local[8]/8 shuffle partitions (was local[4]/4): the suite is one
    # sequential session on a 32-core box and its wall is Spark stage
    # latency, not CPU — doubling per-job parallelism cut the driver
    # gate ~20% with zero test changes (no test asserts a partition
    # count; plan-shape tests match operators, not widths).
    s = (
        SparkSession.builder.appName("engine-tests")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
