from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MEDIUM = os.environ.get("SPARK_GRAFT_TEST_SF_MEDIUM", "/root/testdata/sf0.01")

# ---------------------------------------------------------------------------
# Slow lane (r13, VERDICT item 1): the driver's default `pytest tests/ -x -q`
# must fit its time budget (the r12 driver run truncated at 58% with zero
# failures). These node ids measured >= ~13 s each in the r13 full-suite
# durations run (together ~40% of total suite runtime in 27 of 1353 tests);
# pytest.ini excludes marker `slow` by default, and `-m slow` runs this lane
# explicitly. Keep entries as nodeid suffixes relative to this directory;
# test_slow_lane.py fails on an entry the suite does not collect.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    "test_plan_shapes.py::test_engine_wide_plan_lint",
    "test_oracle_parity.py::test_parity_medium[customer_kaplan_meier_survival0]",
    "test_oracle_parity.py::test_parity_medium[customer_kaplan_meier_survival1]",
    "test_concurrency.py::test_concurrent_queries_match_sequential",
    "test_hostile_worlds.py::test_nulls_world_fails_open",
    "test_hostile_worlds.py::test_degenerate_world_fails_open",
    "test_hostile_worlds.py::test_empty_world_fails_open",
    "test_dedup_scale.py::test_prefix_filter_jaccard_on_duplicated_corpus",
    "test_dedup_scale.py::test_shingle_containment_on_duplicated_corpus",
    "test_dynamodb_connector.py::test_python_datasource_partitions_match_shards",
    "test_dynamodb_connector.py::test_envelope_sink_manifest_hides_orphaned_staged_files",
    "test_oracle_parity.py::test_parity_small[bpe_merge_induction]",
    "test_partition_independence.py::test_width_invariant[dedup_simhash_threshold_sweep0]",
    "test_partition_independence.py::test_width_invariant[dedup_simhash_threshold_sweep1]",
    "test_oracle_parity.py::test_parity_small[dedup_cluster_size_report]",
    "test_oracle_parity.py::test_parity_small[dedup_prefix_filter_jaccard]",
    "test_oracle_parity.py::test_parity_small[graph_clustering_coefficient]",
    "test_connected_components.py::test_union_find_and_star_loop_agree[mixed_shapes]",
    "test_connected_components.py::test_union_find_and_star_loop_agree[long_chain]",
    "test_oracle_parity.py::test_parity_small[eval_rouge_near_dup_pairs]",
    "test_oracle_parity.py::test_parity_small[customer_kaplan_meier_survival]",
    "test_clustering.py::test_two_blob_geometry_clusters_together",
    "test_oracle_parity.py::test_parity_small[source_python_datasource]",
    "test_partition_independence.py::test_width_invariant[text_rake_keywords]",
    "test_oracle_parity.py::test_parity_small[multimodal_audio_landmark_match]",
    "test_round10_behavior_streaming.py::test_foreachbatch_sink_lands_exactly_one_email_per_key",
    "test_bpe.py::test_random_corpora_match_pure_python_reference",
    "test_partition_independence.py::test_width_invariant[dedup_cluster_assign_star0]",
    "test_partition_independence.py::test_width_invariant[dedup_cluster_assign_star1]",
    "test_oracle_parity.py::test_parity_small[dedup_minhash_calibration]",
    "test_oracle_parity.py::test_parity_small[eval_dedup_method_agreement]",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        nodeid = item.nodeid.split("tests/")[-1]
        if nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from dynamodb_stream_processor_2_0_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_medium() -> str:
    return SF_DIR_MEDIUM
