"""Hostile-world regression tests: the 45 queries that round 9's
tools/hostile_sweep.py caught fail-closed (job-killing) on adversarial
data shapes must stay fail-open.

Three worlds (built by the sweep tool itself, so tool and test cannot
drift): "degenerate" (all values equal — zero variance, zero ranges,
single groups), "nulls" (NULLs/empties in every nullable slot,
wrong-typed and malformed JSON, zero-norm and zero-length embeddings),
and "empty" (every table present, zero rows). The contract under test:
collect() returns (possibly zero rows) instead of raising — ANSI
div-by-zero / element_at / cast errors, worker TypeErrors on NULL
payloads, ragged-vector numpy errors, empty-seed IndexErrors, and
driver ZeroDivisionErrors all surfaced as job kills before the round-9
guards. A few spot assertions pin the new NULL semantics (undefined
statistics are NULL, exactly like the DuckDB oracles' x/0).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT / "tools") not in sys.path:
    sys.path.insert(0, str(REPO_ROOT / "tools"))

from hostile_sweep import build_degenerate, build_empty, build_nulls  # noqa: E402

# query lists = exactly the failures the round-9 sweep recorded
DEGENERATE_FAILS = [
    "agg_moment_stats",
    "attribution_shapley_exact",
    "corpus_mixture_sample",
    "embedding_binary_hamming_topk",
    "embedding_covariance_stats",
    "embedding_pca_power_iteration",
    "eval_auc_mann_whitney",
    "eval_clustering_calinski_harabasz",
    "events_ab_proportion_test",
    "events_poisson_bootstrap_ci",
    "graph_degree_assortativity",
    "ml_ols_regression_closed_form",
    "source_python_pushdown_pruning",
    "text_js_divergence_sources",
]

NULLS_FAILS = [
    "ann_recall_eval",
    "embedding_cosine_topk",
    "multimodal_arrow_digest",
    "embedding_mmr_diverse_topk",
    "multimodal_phash_near_dup",
    "semantic_dedup_kmeans",
    "embedding_random_projection",
    "ml_knn_label_eval",
    "search_rrf_hybrid",
    "multimodal_pcm_window_energy",
    "embedding_covariance_stats",
    "multimodal_image_decode",
    "multimodal_frame_sample",
    "multimodal_resize_digest",
    "corpus_mixture_sample",
    "agg_moment_stats",
    "events_ks_distribution_shift",
    "multimodal_scene_cut_detect",
    "multimodal_audio_vad_segments",
    "multimodal_audio_landmark_match",
    "multimodal_shot_keyframes",
    "embedding_ann_ivf_nprobe_sweep",
    "eval_ndcg_ranking",
    "sketch_histogram_quantiles",
    "events_poisson_bootstrap_ci",
    "sample_neyman_allocation",
    "text_heaps_law_fit",
    "text_js_divergence_sources",
    "ml_ols_regression_closed_form",
    "source_python_pushdown_pruning",
    "embedding_binary_hamming_topk",
    "eval_clustering_calinski_harabasz",
]

EMPTY_FAILS = [
    "source_dynamic_partition_pruning",
    "source_partitioned_pruning",
    "source_python_datasource",
    "grouped_pandas_robust_outliers",
    "graph_pagerank_fixpoint",
    "semantic_dedup_kmeans",
    "bpe_merge_induction",
    "source_python_pushdown_pruning",
    "text_filter_ensemble_agreement",
    "events_markov_stationary",
    "graph_personalized_pagerank",
    "embedding_ann_ivf_nprobe_sweep",
    "eval_clustering_calinski_harabasz",
    "embedding_kcenter_coreset",
    "attribution_shapley_exact",
    "schema_ind_discovery",
    "schema_key_discovery",
]


def _run(spark, name, sf_dir):
    from dynamodb_stream_processor_2_0_spark.plans import registry

    registry._load()
    return registry.REGISTRY[name].fn(spark, str(sf_dir)).collect()


@pytest.mark.slow
def test_degenerate_world_fails_open(spark, tmp_path):
    build_degenerate(str(tmp_path))
    results = {n: _run(spark, n, tmp_path) for n in DEGENERATE_FAILS}
    # undefined statistics are NULL, not crashes
    moment = {r["event_type"]: r for r in results["agg_moment_stats"]}
    assert moment["click"]["corr_value_k"] is None  # zero variance
    assert moment["click"]["var_value"] is not None  # n=3, defined
    auc = results["eval_auc_mann_whitney"][0]
    assert auc["auc_permille"] is None  # single-class corpus
    ols = {r["l_returnflag"]: r for r in results["ml_ols_regression_closed_form"]}
    assert ols["N"]["b1_cents_per_qty_milli"] is None  # singular system
    assert ols["N"]["mean_price_cents"] == 100  # but the mean is defined
    assort = results["graph_degree_assortativity"][0]
    assert assort["r_squared_signed_micro"] is None  # regular graph
    # shard 5 doesn't exist in a 3-event world: pruned to zero rows,
    # not a read(None) worker death
    assert results["source_python_pushdown_pruning"] == []


@pytest.mark.slow
def test_nulls_world_fails_open(spark, tmp_path):
    build_nulls(str(tmp_path))
    results = {n: _run(spark, n, tmp_path) for n in NULLS_FAILS}
    # a NULL payload digests to NULL (the oracle's md5(NULL))
    digest = {r["doc_id"]: r for r in results["multimodal_arrow_digest"]}
    assert digest[3]["payload_md5"] is None and digest[3]["n_bytes"] is None
    assert digest[0]["payload_md5"] is not None
    # zero-norm / empty vectors score NULL cosine and rank last
    topk = results["embedding_cosine_topk"]
    assert topk and all(
        r["cosine"] is None or -1.0001 <= r["cosine"] <= 1.0001 for r in topk
    )
    # ragged vectors are dropped by the kmeans hygiene filter, the
    # well-formed ones still cluster
    clustered = {r["vec_id"] for r in results["semantic_dedup_kmeans"]}
    assert 2 not in clustered  # the zero-length vector


@pytest.mark.slow
def test_empty_world_fails_open(spark, tmp_path):
    build_empty(str(tmp_path))
    results = {n: _run(spark, n, tmp_path) for n in EMPTY_FAILS}
    for name in (
        "graph_pagerank_fixpoint",
        "graph_personalized_pagerank",
        "embedding_kcenter_coreset",
        "bpe_merge_induction",
        "source_partitioned_pruning",
        "source_python_datasource",
    ):
        assert results[name] == [], name
