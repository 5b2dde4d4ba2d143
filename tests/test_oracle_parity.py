"""Differential tests: every registered query must match DuckDB exactly
(the driver's gate). At sf0.001 each query runs at shuffle widths 7 and
32 against one oracle result, so both widths matching the oracle also
proves the output does not depend on width. At sf0.01 (the driver's
actual gate SF) the frozen lane and the driver sample run by default —
SPARK_GRAFT_PARITY_MEDIUM=1 widens the sf0.01 pass to every query, =0
disables it."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from dynamodb_stream_processor_2_0_spark.plans import registry
from dynamodb_stream_processor_2_0_spark.streaming.runner import conf_scope
from tests.oracle_harness import (
    compare_frames,
    compare_query,
    fetch_oracle,
    fetch_spark,
)

WIDTHS = ("7", "32")

_JSON_OPT = "spark.sql.optimizer.enableJsonExpressionOptimization"
_PUSHDOWN = "spark.sql.python.filterPushdown.enabled"

# Session conf keys a query is known to leave set, with the line that
# writes each. Every other key of spark.conf.getAll must read the same
# after a parity cell as before it.
_LEAVES_SET = {
    # queries_pipeline.py:79
    "s1_stream_record_parse": (_JSON_OPT,),
    # queries_pipeline.py:561, 939; python_datasource.py:191
    "source_python_datasource": (_JSON_OPT, _PUSHDOWN),
    "source_python_pushdown_pruning": (_JSON_OPT, _PUSHDOWN),
    # python_datasource.py:191
    "sink_python_datasource_roundtrip": (_PUSHDOWN,),
    "streaming_python_source_e2e": (_PUSHDOWN,),
    "streaming_python_sink_e2e": (_PUSHDOWN,),
    # queries_temporal_graph.py:184
    "recursive_order_chain_walk": ("spark.sql.cteRecursionRowLimit",),
}
# catalog.py:92, 103: load_table sets it for any query that reads a
# nanos-vintage parquet file.
_ANY_QUERY = ("spark.sql.legacy.parquet.nanosAsLong",)

# The sf0.01 lane and the two-width lane (test_partition_independence.py)
# as they ran by default before both were derived from the registry: the
# driver order's first 95 names at the time, then the queries added
# after that order was frozen. Kept so each of those cells keeps its id;
# a new query joins the sf0.01 lane only through the driver sample. A
# name in both parts has two cells (ids ``<name>0`` and ``<name>1``);
# the second reuses the frames the first kept.
_FROZEN_PREFIX = tuple(
    """
    pipeline_disposition_summary pipeline_disposition_ledger
    s1_stream_record_parse streaming_delivery_e2e cdc_upsert_compaction
    a2_existence_per_key p10_priority_routing p11_envelope_json
    f1_change_type_filter f3_null_pass_filter d2_cdc_old_new_diff
    d3_state_lookup_routing d5_first_occurrence_dedup
    first_touch_attribution f8_email_validation p5_key_building
    p7_nested_document_build p8_array_transform_slice a3_failure_list
    e1_error_isolation datetime_function_battery interval_overlap_join
    interval_allen_algebra_census ml_gini_decision_stump
    attribution_markov_removal embedding_ood_knn_distance
    ml_knn_label_eval dedup_simhash_threshold_sweep
    dedup_minhash_calibration events_markov_stationary
    events_signflip_fdr ml_conformal_interval_coverage
    lineitem_abc_xyz_classification graph_clustering_coefficient
    schema_ind_discovery customer_kaplan_meier_survival
    dedup_token_window_exact dedup_cluster_assign_star
    dedup_cluster_assign corpus_curation_pipeline_v2
    graph_label_propagation graph_modularity_score
    graph_personalized_pagerank graph_shortest_path_bfs
    graph_betweenness_seeded graph_degree_assortativity
    graph_deterministic_walks pii_pseudonymize_consistent
    data_contract_check rolling_7d_active_users events_streak_islands
    supplier_delay_control_chart events_theil_sen_trend
    timeseries_rolling_median_7d timeseries_seasonal_decompose
    events_anomaly_mad timeseries_croston_forecast events_psi_drift
    forecast_mase_eval events_changepoint_binary_seg
    events_mann_kendall_test events_periodogram_fixed
    events_seasonal_residual_anomaly events_slo_burn_rate
    customer_gap_survival_curve attribution_time_decay
    events_ab_proportion_test eval_auc_mann_whitney
    events_pattern_vshape_match attribution_shapley_exact
    events_sequential_patterns events_poisson_bootstrap_ci
    events_diff_in_diff events_cuped_variance_reduction
    events_cross_correlation_leadlag events_markov_next_event_eval
    rfm_migration_matrix sketch_kmv_intersection sketch_kmv_difference
    orders_littles_law_identity scd2_asof_enrich
    orders_open_backlog_daily sketch_histogram_quantiles
    fk_cascade_impact_analysis sketch_cm_join_size_estimate
    storage_compaction_bin_packing supplier_queue_delay_lindley
    events_value_drawdown snapshot_diff_audit trending_decay_topk
    events_sessionized_funnel events_cohort_ltv
    events_interarrival_histogram events_time_to_convert
    timeseries_similarity_topk
    """.split()
)

_FROZEN_EXTRAS = tuple(
    """
    bloom_filter_dedup_prefilter text_lm_surprisal_score
    cdc_retraction_aggregate source_schema_evolution_merge
    aqp_sampled_sum_estimate dedup_ttl_within_window
    dedup_minhash_calibration text_filter_ensemble_agreement
    embedding_hard_negative_mine source_python_pushdown_pruning
    relational_division_all_quarters corpus_mixture_rebalance_plan
    dedup_prefix_filter_jaccard dedup_cluster_size_report
    events_trend_slope_by_type events_cusum_shift_detect
    orders_benford_digit_audit graph_kcore_membership
    customer_weighted_median_balance events_ks_distribution_shift
    orders_pareto_skyline orders_seasonality_index
    lineitem_fifo_allocation events_replay_pair_detect
    events_bot_regularity_score graph_shortest_path_bfs
    graph_label_propagation sketch_kmv_distinct
    events_autocorrelation_lags timeseries_ewma_halflife
    interval_overlap_join data_skew_profile embedding_pq_adc_topk
    graph_node_jaccard_similarity graph_deterministic_walks
    events_streak_islands rfm_migration_matrix
    dedup_simhash_threshold_sweep embedding_matryoshka_recall
    sql_udf_temp_function customer_gap_survival_curve
    events_markov_stationary multimodal_dedup_by_digest
    text_ccnet_bucket_mix events_entropy_by_user
    supplier_delay_control_chart timeseries_holt_forecast
    attribution_time_decay multimodal_phash_near_dup
    sql_parameterized_query source_union_schema_harmonize
    events_haar_energy text_dsir_importance text_bm25_topk
    search_rrf_hybrid events_theil_sen_trend
    timeseries_rolling_median_7d sketch_kmv_intersection
    privacy_k_anonymity_audit scd2_asof_enrich text_rake_keywords
    events_anomaly_mad orders_open_backlog_daily
    timeseries_croston_forecast sketch_histogram_quantiles
    fk_cascade_impact_analysis embedding_pca_power_iteration
    text_vocab_oov_rate embedding_ann_ivf_nprobe_sweep
    multimodal_scene_cut_detect text_pmi_collocations
    text_term_burstiness lineitem_abc_xyz_classification text_zipf_fit
    approx_stats_scale_path text_winnowing_fingerprints dedup_cdc_chunks
    graph_hits_hubs_authorities events_psi_drift
    events_ab_proportion_test forecast_mase_eval
    sketch_cm_join_size_estimate text_heaps_law_fit
    eval_auc_mann_whitney embedding_centroid_drift
    events_changepoint_binary_seg storage_compaction_bin_packing
    graph_modularity_score events_pattern_vshape_match
    sql_group_by_all_dialect text_quantile_normalize_sources
    multimodal_audio_vad_segments privacy_l_diversity_audit
    timeseries_seasonal_decompose orders_littles_law_identity
    schema_fd_discovery sketch_kmv_difference graph_betweenness_seeded
    graph_degree_assortativity timeseries_dtw_weekly_similarity
    graph_personalized_pagerank corpus_temperature_mixture_plan
    ml_ols_regression_closed_form ml_hashed_linear_scorer
    eval_calibration_curve_ece dedup_cluster_assign_star
    interval_allen_algebra_census dedup_fellegi_sunter_linkage
    events_mann_kendall_test attribution_shapley_exact
    events_sequential_patterns eval_dedup_bcubed eval_ndcg_ranking
    privacy_t_closeness_audit eval_clustering_calinski_harabasz
    customer_kaplan_meier_survival quality_text_embedding_alignment
    supplier_queue_delay_lindley events_value_drawdown
    events_poisson_bootstrap_ci events_diff_in_diff events_signflip_fdr
    ml_conformal_interval_coverage dedup_sorted_neighborhood
    events_cuped_variance_reduction events_cross_correlation_leadlag
    events_markov_next_event_eval text_chao1_vocab_richness
    eval_brier_murphy_decomposition schema_ind_discovery
    graph_clustering_coefficient text_js_divergence_sources
    embedding_isotropy_audit ml_gini_decision_stump
    privacy_dp_sensitivity_report embedding_kcenter_coreset
    ml_naive_bayes_langid text_kneser_ney_bigram_lm
    multimodal_audio_landmark_match eval_rouge_near_dup_pairs
    attribution_markov_removal ml_knn_label_eval
    events_periodogram_fixed sql_correlated_subquery_battery
    schema_key_discovery sample_neyman_allocation
    eval_dedup_method_agreement ml_feature_mutual_information
    multimodal_shot_keyframes graph_ktruss_edges
    embedding_ood_knn_distance privacy_synthetic_fidelity_audit
    events_seasonal_residual_anomaly events_slo_burn_rate
    orders_price_volume_mix graph_adamic_adar_linkpred
    corpus_dup_rate_by_source
    """.split()
)
FROZEN_LANE = _FROZEN_PREFIX + _FROZEN_EXTRAS

# Frames a later cell checks again, keyed by (name, sf_dir, side).
_KEPT: dict[tuple[str, str, str], pd.DataFrame] = {}


def _frame(key, make, keep: bool) -> pd.DataFrame:
    if key in _KEPT:
        return _KEPT[key]
    frame = make()
    if keep:
        _KEPT[key] = frame
    return frame


def spark_frame(spark, spec, sf_dir, width, keep=False) -> pd.DataFrame:
    """The Spark result of ``spec`` at shuffle width ``width``."""

    def run():
        with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
            return fetch_spark(spark, spec, sf_dir)

    return _frame((spec.name, sf_dir, width), run, keep)


def _small_cells():
    registry._load()
    return [
        pytest.param(s, id=s.name, marks=[pytest.mark.slow] if "slow" in s.tags else [])
        for s in registry.REGISTRY.values()
        if s.oracle is not None
    ]


def _medium_specs():
    mode = os.environ.get("SPARK_GRAFT_PARITY_MEDIUM", "")
    if mode == "0":
        return []
    ordered = list(registry.all_queries())
    if mode != "1":
        sample = ordered[: registry.DRIVER_SAMPLE_SIZE]
        ordered = list(FROZEN_LANE) + [n for n in sample if n not in FROZEN_LANE]
    return [
        registry.REGISTRY[n] for n in ordered if registry.REGISTRY[n].oracle
    ]


_MEDIUM = _medium_specs()
_MEDIUM_TWICE = {s.name for s in _MEDIUM if _MEDIUM.count(s) > 1}


def _keeping_conf(spark, spec, check) -> None:
    before = dict(spark.conf.getAll)
    check()
    after = dict(spark.conf.getAll)
    allowed = set(_LEAVES_SET.get(spec.name, ()) + _ANY_QUERY)
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k) and k not in allowed
    }
    assert not changed, f"{spec.name} left session conf changed: {changed}"


def compare_at_widths(spark, spec, sf_dir, keep=False) -> None:
    """Compare the Spark plan at each of ``WIDTHS`` to one oracle result;
    ``keep`` keeps the Spark frames for the query's width cell."""
    oracle = fetch_oracle(spec, sf_dir)
    for width in WIDTHS:
        spdf = spark_frame(spark, spec, sf_dir, width, keep)
        compare_frames(f"{spec.name} at width {width}", spdf, oracle)


@pytest.mark.parametrize("spec", _small_cells())
def test_parity_small(spark, sf_dir, spec):
    keep = spec.name in FROZEN_LANE
    _keeping_conf(
        spark, spec, lambda: compare_at_widths(spark, spec, sf_dir, keep)
    )


@pytest.mark.parametrize("spec", _MEDIUM, ids=lambda s: s.name)
def test_parity_medium(spark, sf_dir_medium, spec):
    keep = spec.name in _MEDIUM_TWICE
    key = (spec.name, sf_dir_medium)

    def check():
        spdf = _frame(
            (*key, "spark"), lambda: fetch_spark(spark, spec, sf_dir_medium), keep
        )
        ddf = _frame((*key, "oracle"), lambda: fetch_oracle(spec, sf_dir_medium), keep)
        compare_frames(spec.name, spdf, ddf)

    _keeping_conf(spark, spec, check)


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


def test_two_width_cell_detects_width_dependence(spark, sf_dir):
    """Meta-test: a result that depends on shuffle width must fail the
    two-width cell even though it matches the oracle at one width."""
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.plans.registry import QuerySpec

    width_dependent = QuerySpec(
        name="deliberately_width_dependent",
        fn=lambda s, d: s.range(1).select(
            F.lit(int(s.conf.get("spark.sql.shuffle.partitions"))).alias("w")
        ),
        oracle="SELECT 7 AS w",
    )
    with pytest.raises(AssertionError, match="at width 32: value mismatch"):
        compare_at_widths(spark, width_dependent, sf_dir)
