"""Differential tests: every registered query with an oracle must match
DuckDB exactly (the driver's gate), run at sf0.001 for the full registry
and at sf0.01 (the driver's actual gate SF) for the driver-sample prefix
by default — SPARK_GRAFT_PARITY_MEDIUM=1 widens the sf0.01 pass to every
query, =0 disables it."""

from __future__ import annotations

import os

import pytest

from dynamodb_stream_processor_2_0_spark.plans import registry
from tests.oracle_harness import compare_query

# The driver checks the first 50 queries() entries at sf0.01; run a bit
# past that by default so next round's rotation candidates are already
# gate-proven before they enter the sample.
_MEDIUM_DEFAULT_PREFIX = 95

# Queries added after the round-4 sample order was frozen: not in the
# gate prefix, but gate-proven-by-default here at sf0.01 so the next
# rotation can promote them with no surprises.
_MEDIUM_EXTRAS = (
    "bloom_filter_dedup_prefilter",
    "text_lm_surprisal_score",
    "cdc_retraction_aggregate",
    "source_schema_evolution_merge",
    "aqp_sampled_sum_estimate",
    "dedup_ttl_within_window",
    "dedup_minhash_calibration",
    "text_filter_ensemble_agreement",
    "embedding_hard_negative_mine",
    "source_python_pushdown_pruning",
    "relational_division_all_quarters",
    "corpus_mixture_rebalance_plan",
    "dedup_prefix_filter_jaccard",
    "dedup_cluster_size_report",
    "events_trend_slope_by_type",
    "events_cusum_shift_detect",
    "orders_benford_digit_audit",
    "graph_kcore_membership",
    "customer_weighted_median_balance",
    "events_ks_distribution_shift",
    "orders_pareto_skyline",
    "orders_seasonality_index",
    "lineitem_fifo_allocation",
    "events_replay_pair_detect",
    "events_bot_regularity_score",
    # round-5 additions
    "graph_shortest_path_bfs",
    "graph_label_propagation",
    "sketch_kmv_distinct",
    "events_autocorrelation_lags",
    "timeseries_ewma_halflife",
    "interval_overlap_join",
    "data_skew_profile",
    "embedding_pq_adc_topk",
    "graph_node_jaccard_similarity",
    "graph_deterministic_walks",
    "events_streak_islands",
    "rfm_migration_matrix",
    "dedup_simhash_threshold_sweep",
    "embedding_matryoshka_recall",
    "sql_udf_temp_function",
    "customer_gap_survival_curve",
    "events_markov_stationary",
    "multimodal_dedup_by_digest",
    "text_ccnet_bucket_mix",
    "events_entropy_by_user",
    "supplier_delay_control_chart",
    "timeseries_holt_forecast",
    "attribution_time_decay",
    "multimodal_phash_near_dup",
    "sql_parameterized_query",
    "source_union_schema_harmonize",
    "events_haar_energy",
    "text_dsir_importance",
    # round-6 additions
    "text_bm25_topk",
    "search_rrf_hybrid",
    "events_theil_sen_trend",
    "timeseries_rolling_median_7d",
    "sketch_kmv_intersection",
    "privacy_k_anonymity_audit",
    "scd2_asof_enrich",
    "text_rake_keywords",
    "events_anomaly_mad",
    "orders_open_backlog_daily",
    "timeseries_croston_forecast",
    "sketch_histogram_quantiles",
    "fk_cascade_impact_analysis",
    "embedding_pca_power_iteration",
    "text_vocab_oov_rate",
    "embedding_ann_ivf_nprobe_sweep",
    "multimodal_scene_cut_detect",
    "text_pmi_collocations",
    "text_term_burstiness",
    "lineitem_abc_xyz_classification",
    "text_zipf_fit",
    "approx_stats_scale_path",
    "text_winnowing_fingerprints",
    "dedup_cdc_chunks",
    "graph_hits_hubs_authorities",
    "events_psi_drift",
    "events_ab_proportion_test",
    "forecast_mase_eval",
    "sketch_cm_join_size_estimate",
    "text_heaps_law_fit",
    "eval_auc_mann_whitney",
    "embedding_centroid_drift",
    "events_changepoint_binary_seg",
    "storage_compaction_bin_packing",
    "graph_modularity_score",
    "events_pattern_vshape_match",
    "sql_group_by_all_dialect",
    "text_quantile_normalize_sources",
    "multimodal_audio_vad_segments",
    "privacy_l_diversity_audit",
    "timeseries_seasonal_decompose",
    "orders_littles_law_identity",
    "schema_fd_discovery",
    "sketch_kmv_difference",
    "graph_betweenness_seeded",
    "graph_degree_assortativity",
    "timeseries_dtw_weekly_similarity",
    "graph_personalized_pagerank",
    "corpus_temperature_mixture_plan",
    "ml_ols_regression_closed_form",
    "ml_hashed_linear_scorer",
    "eval_calibration_curve_ece",
    "dedup_cluster_assign_star",
    "interval_allen_algebra_census",
    "dedup_fellegi_sunter_linkage",
    "events_mann_kendall_test",
    "attribution_shapley_exact",
    "events_sequential_patterns",
    "eval_dedup_bcubed",
    "eval_ndcg_ranking",
    "privacy_t_closeness_audit",
    "eval_clustering_calinski_harabasz",
    "customer_kaplan_meier_survival",
    "quality_text_embedding_alignment",
    "supplier_queue_delay_lindley",
    "events_value_drawdown",
    "events_poisson_bootstrap_ci",
    "events_diff_in_diff",
    "events_signflip_fdr",
    "ml_conformal_interval_coverage",
    "dedup_sorted_neighborhood",
    "events_cuped_variance_reduction",
    "events_cross_correlation_leadlag",
    "events_markov_next_event_eval",
    "text_chao1_vocab_richness",
    "eval_brier_murphy_decomposition",
    "schema_ind_discovery",
    "graph_clustering_coefficient",
    "text_js_divergence_sources",
    "embedding_isotropy_audit",
    "ml_gini_decision_stump",
    "privacy_dp_sensitivity_report",
    "embedding_kcenter_coreset",
    "ml_naive_bayes_langid",
    "text_kneser_ney_bigram_lm",
    "multimodal_audio_landmark_match",
    "eval_rouge_near_dup_pairs",
    "attribution_markov_removal",
    "ml_knn_label_eval",
    "events_periodogram_fixed",
    "sql_correlated_subquery_battery",
    "schema_key_discovery",
    "sample_neyman_allocation",
    "eval_dedup_method_agreement",
    "ml_feature_mutual_information",
    "multimodal_shot_keyframes",
    "graph_ktruss_edges",
    "embedding_ood_knn_distance",
    "privacy_synthetic_fidelity_audit",
    "events_seasonal_residual_anomaly",
    "events_slo_burn_rate",
    "orders_price_volume_mix",
    "graph_adamic_adar_linkpred",
    "corpus_dup_rate_by_source",
)


def _specs():
    registry._load()
    return [s for s in registry.REGISTRY.values() if s.oracle is not None]


def _medium_specs():
    mode = os.environ.get("SPARK_GRAFT_PARITY_MEDIUM", "")
    if mode == "0":
        return []
    ordered = list(registry.all_queries())
    if mode != "1":
        ordered = ordered[:_MEDIUM_DEFAULT_PREFIX] + [
            n for n in _MEDIUM_EXTRAS if n in ordered
        ]
    return [
        registry.REGISTRY[n] for n in ordered if registry.REGISTRY[n].oracle
    ]


# Conf keys a query may override for its own run only (the streaming
# runner's scope); every query must leave them as it found them.
_RUN_SCOPED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.streaming.stateStore.providerClass",
)


def _compare_keeping_conf(spark, spec, sf_dir):
    before = {k: spark.conf.get(k, None) for k in _RUN_SCOPED}
    compare_query(spark, spec, sf_dir)
    assert {k: spark.conf.get(k, None) for k in _RUN_SCOPED} == before, (
        f"{spec.name} left run-scoped session conf changed"
    )


@pytest.mark.parametrize("spec", _specs(), ids=lambda s: s.name)
def test_parity_small(spark, sf_dir, spec):
    _compare_keeping_conf(spark, spec, sf_dir)


@pytest.mark.parametrize("spec", _medium_specs(), ids=lambda s: s.name)
def test_parity_medium(spark, sf_dir_medium, spec):
    _compare_keeping_conf(spark, spec, sf_dir_medium)


def test_rows_only_queries_run(spark, sf_dir):
    registry._load()
    for spec in registry.REGISTRY.values():
        if spec.oracle is None:
            df = spec.fn(spark, sf_dir)
            assert df.count() >= 0, spec.name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_harness_detects_mismatch(spark, sf_dir):
    """Meta-test: the differential harness must FAIL on a wrong result
    (guards against a vacuously-green comparator)."""
    import pytest

    from dynamodb_stream_processor_2_0_spark.plans.registry import QuerySpec
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

    bad = QuerySpec(
        name="deliberately_wrong",
        fn=lambda s, d: load_table(s, d, "region").limit(3),
        oracle="SELECT * FROM region LIMIT 2",
    )
    with pytest.raises(AssertionError, match="row count"):
        compare_query(spark, bad, sf_dir)

    wrong_values = QuerySpec(
        name="deliberately_wrong_values",
        fn=lambda s, d: load_table(s, d, "region"),
        oracle="SELECT r_regionkey + 1 AS r_regionkey, r_name FROM region",
    )
    with pytest.raises(AssertionError, match="value mismatch"):
        compare_query(spark, wrong_values, sf_dir)
