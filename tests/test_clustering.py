"""Deterministic k-means (operators/clustering.py): known-geometry
assignments, Lloyd-update correctness on the integer grid, and the
SemDeDup survivorship rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.operators.clustering import (
    kmeans_assignments,
    semantic_dedup,
    with_quant_vec,
)


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_quantization_grid_and_sign(spark):
    df = _emb(spark, [(0, [0.5, -0.5, 0.0009, -0.0009])])
    got = with_quant_vec(df, scale=512).select("qvec").first()["qvec"]
    # round-half-away-from-zero on the exact double product
    assert got == [256, -256, 0, 0]


@pytest.mark.slow
def test_two_blob_geometry_clusters_together(spark):
    # two tight blobs far apart; any sane seeding/update must separate
    # them and co-assign blob members
    blob_a = [(i, [1.0 + 0.001 * i, 1.0, 0.0, 0.0]) for i in range(6)]
    blob_b = [(10 + i, [-1.0 - 0.001 * i, -1.0, 0.0, 0.0]) for i in range(6)]
    df = _emb(spark, blob_a + blob_b)
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(df, k=2, lloyd_rounds=1).collect()
    }
    a_clusters = {got[i] for i in range(6)}
    b_clusters = {got[10 + i] for i in range(6)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters


def test_assignment_tie_breaks_to_smaller_cluster_id(spark):
    # md5('1')=c4ca.. < md5('2')=c81e.. < md5('0')=cfcd.. -> with k=2
    # the seeds are vec 1 (cluster 0, at (-512,0) on the grid) and
    # vec 2 (cluster 1, at (0,0)). vec 0 at (-0.5, 0.5) quantizes to
    # (-256, 256): EXACTLY equidistant (256^2+256^2 to both) -> the tie
    # must resolve to the smaller cluster id, 0.
    df = _emb(
        spark,
        [(0, [-0.5, 0.5]), (1, [-1.0, 0.0]), (2, [0.0, 0.0])],
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(df, k=2, lloyd_rounds=0).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1}


def test_semantic_dedup_keeps_smallest_id_of_duplicate_group(spark):
    # 3 identical vectors (exact dups) + 2 orthogonal singletons
    rows = [
        (5, [1.0, 0.0, 0.0, 0.0]),
        (7, [1.0, 0.0, 0.0, 0.0]),
        (9, [1.0, 0.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0, 0.0]),
        (13, [0.0, 0.0, 1.0, 0.0]),
    ]
    out = semantic_dedup(_emb(spark, rows), threshold=0.9).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert set(by_id) == {5, 7, 9, 11, 13}
    assert by_id[5]["keep"] and not by_id[7]["keep"] and not by_id[9]["keep"]
    assert by_id[11]["keep"] and by_id[13]["keep"]
    assert by_id[5]["n_near"] == 2 and by_id[7]["n_near"] == 2
    assert by_id[11]["n_near"] == 0


def test_lloyd_round_moves_centroid_to_member_mean(spark):
    # k=1: after one Lloyd round the centroid is the rounded mean;
    # every vector still lands in cluster 0 and cluster_size is n
    rows = [(i, [float(i), 0.0]) for i in range(4)]
    out = semantic_dedup(_emb(spark, rows), threshold=2.0)  # no pairs
    got = out.select(F.countDistinct("cluster"), F.max("cluster_size")).first()
    assert got[0] >= 1 and got[1] >= 1
    assert out.filter(~F.col("keep")).count() == 0
