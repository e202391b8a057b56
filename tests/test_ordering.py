"""SWEEP_ORDER ↔ registry sync, and the debut queues that went live.

Round-2 ADVICE: new queries were registered but never added to the
list, so the budgeted correctness sweep never ran them — the first
test keeps the list and the registry in exact agreement. The list is
static and appended to by hand (see ``operators/ordering.py``).
"""

from __future__ import annotations


def test_sweep_order_matches_registry_exactly():
    import __spark_entry__  # noqa: F401 — registers every query

    from catme_etl_spark.operators.ordering import SWEEP_ORDER
    from catme_etl_spark.operators.registry import QUERIES

    listed, registered = set(SWEEP_ORDER), set(QUERIES)
    assert len(SWEEP_ORDER) == len(listed), "duplicate names in SWEEP_ORDER"
    assert registered - listed == set(), (
        f"registered but missing from SWEEP_ORDER: {sorted(registered - listed)}"
    )
    assert listed - registered == set(), (
        f"in SWEEP_ORDER but not registered: {sorted(listed - registered)}"
    )


ROUND7_DEBUT_QUEUE = [
    "sim_graph_triangle_count",
    "pipeline_dedup_impact_report",
    "events_dau_wau_stickiness",
    "events_assoc_lift",
    "events_bot_signature_scan",
    "quality_referential_integrity_audit",
    "quality_pii_scan",
    "sample_epoch_mix_plan",
    "pack_padding_waste_audit",
    "emb_dimension_profile",
    "sim_norm_audit",
    "sim_centroid_distance_matrix",
    "sim_ivf_nprobe_curve",
    "stats_kaplan_meier_churn",
    "agg_jackknife_mean_se",
    "text_vocab_overlap_sources",
    "text_oov_rate_split",
    "text_pmi_collocations",
    "text_length_percentiles_by_lang",
]


ROUND8_DEBUT_QUEUE = [
    "dedup_bloom_prefilter_audit",
    "events_weekly_seasonality_profile",
    "events_daily_autocorrelation",
    "events_retention_halflife_fit",
    "events_volume_anomaly_by_type_week",
    "quality_dup_conflicting_metadata",
    "events_attribution_u_shaped",
    "sample_epoch_shuffle_head",
    "sample_quality_weighted_budget",
    "sim_recall_vs_k_curve",
    "sim_cosine_band_histogram",
    "text_diversity_length_corr",
    "text_js_divergence_sources",
    "stream_bloom_index_maintenance",
]


ROUND9_DEBUT_QUEUE = [
    "dedup_near_dup_conflicting_metadata",
    "quality_split_leakage_near_dup",
    "events_burstiness_fano",
    "quality_split_balance_audit",
    "sample_importance_weights_ppm",
    "sample_sqrt_temperature_mix",
    "sim_ivf_recall_clustered",
    "stats_bootstrap_ci_md5",
    "text_hapax_ratio_by_source",
    "stream_minhash_band_index",
    "stream_volume_anomaly_weekly",
    "stream_concurrency_by_hour",
]


ROUND10_DEBUT_QUEUE = [
    "stream_latency_alert_daily",
    "pipeline_corpus_release",
    "sim_ivfpq_recall_clustered",
    "stats_permutation_test_md5",
    "events_changepoint_max_meanshift",
    "dedup_winnowing_fingerprint_pairs",
    "stream_changepoint_daily",
    "events_attribution_time_decay",
    "stream_winnowing_shard_index",
    "dedup_winnowing_containment",
    "ts_holt_linear_forecast",
    "stream_holt_forecast_daily",
]


ROUND11_DEBUT_QUEUE = [
    "text_source_signature_terms",
    "sample_neyman_allocation",
    "ts_holt_winters_weekly",
    "stream_holt_winters_weekly",
    "agg_theil_between_within",
    "dedup_winnowing_clusters",
    "events_changepoint_two_level",
    "pipeline_release_diff",
    "quality_release_gate",
    "pipeline_vector_index_ingest",
    "sample_neyman_draw",
    "stream_ivf_list_maintenance",
]

ROUND12_DEBUT_QUEUE = [
    "pipeline_vector_index_rebalance",
    "sim_ivf_rebalanced_recall",
    "pipeline_vector_index_delete_compact",
    "pipeline_release_pin",
    "dedup_winnowing_source_matrix",
    "text_source_signature_cosine",
    "ts_forecast_backtest_holt",
    "agg_hoover_index",
    "sample_poststrat_weights",
    "stream_watermark_lateness_audit",
    "stream_session_window_gap",
    "stream_release_admission_gate",
]

ROUND13_DEBUT_QUEUE = [
    "pipeline_vector_index_compaction",
    "sim_ivf_compacted_recall",
    "pipeline_index_lifecycle_report",
    "stream_compaction_scheduler",
    "pipeline_release_retention",
    "quality_dedup_source_bias",
    "events_session_funnel",
    "window_user_lifecycle",
    "agg_trimmed_mean",
    "sample_importance_reweight",
    "text_ingest_novelty",
    "ts_forecast_backtest_hw",
]

ROUND14_DEBUT_QUEUE = [
    "agg_spearman_corr",
    "text_bpe_merge_candidates",
    "sim_graph_pagerank_iter",
    "dedup_repeated_span_audit",
    "sample_curriculum_schedule",
    "stream_source_quota_rollover",
]


def test_debut_queues_flipped_live():
    """Round-N+1 item #1 each round: operators deferred by a round's
    window budget must be LIVE next round (@query, with oracle) — the
    queue is a deferral, never a skip. Round 7's 19 landed in round 8
    (all green in CORRECTNESS_r08); round 8's 14 in round 9
    (CORRECTNESS_r09); round 9's 12 in round 10 (CORRECTNESS_r10);
    round 10's 12 in round 11 (CORRECTNESS_r11); round 11's 12 in round 12
    (CORRECTNESS_r12); round 12's 12 in round 13 (CORRECTNESS_r13);
    round 13's 12 in round 14 (all green in CORRECTNESS_r14, checked
    below against the committed driver record — the round-14 window
    requirement is thereby discharged, so round-15's emit is free to
    spend its slots on the r14 optimization blast radius). Round 14's
    six were registered with @query once the round-based certification
    and its deferral decorator were retired (oracle evidence:
    PENDING_CHECK_r14.txt)."""
    import json
    import os

    import __spark_entry__  # noqa: F401 — registers every query

    from catme_etl_spark.operators.registry import ORACLE, QUERIES

    for name in (
        ROUND7_DEBUT_QUEUE
        + ROUND8_DEBUT_QUEUE
        + ROUND9_DEBUT_QUEUE
        + ROUND10_DEBUT_QUEUE
        + ROUND11_DEBUT_QUEUE
        + ROUND12_DEBUT_QUEUE
        + ROUND13_DEBUT_QUEUE
        + ROUND14_DEBUT_QUEUE
    ):
        assert name in QUERIES, f"{name} missing from live registry"
        assert name in ORACLE, f"{name} lost its oracle in the flip"
    record = os.path.join(
        os.path.dirname(__file__), "..", "CORRECTNESS_r14.json"
    )
    with open(record) as f:
        certified = json.load(f)
    for name in ROUND13_DEBUT_QUEUE:
        row = certified.get(name)
        assert row is not None, f"{name} missing from CORRECTNESS_r14"
        assert row["hash_match"], f"{name} not green in CORRECTNESS_r14"
