"""Semantic (embedding-space) dedup via deterministic k-means.

SemDeDup-shaped pipeline (Abbas et al. 2023, public): cluster the
embedding space with k-means, then look for near-duplicate pairs ONLY
within a cluster — the cluster assignment replaces the n^2 pair space
with n * avg_cluster_size work, and k is the knob that prices it
(k ~ n / target_cluster_size keeps per-cluster work flat as the corpus
grows; the reference processor has no analog — this is north-star
LLM-pipeline surface, SURVEY.md §2.7 "engine surface to build").

Determinism contract (what makes the oracle gate possible):

- vectors are quantized to integers (round(x * 512) — the exact-double
  product then the shared round-half-away-from-zero rule, same as the
  int8 quantizer in operators/similarity.py), so every distance is an
  exact BIGINT and no shuffle order can perturb an assignment;
- seeding is md5-ranked (the k vectors with the smallest
  md5(vec_id) hex), reproducible in any engine with md5 — no RNG;
- Lloyd updates round the per-dimension mean back to the integer grid:
  sum and count are exact, the double quotient is correctly rounded
  IEEE (identical everywhere), and round() re-enters integer space;
- ties in argmin break on the smaller cluster id, explicitly.

Scale shape: centroids are k x dim integers (tiny, bounded by
construction) — they ride to the executors inside the Arrow-batched
assignment kernel's closure (the broadcast-small-dim pattern). Each
Lloyd iteration is one map-only assignment pass (int64 matmul per
Arrow batch) plus one map-side-combined groupBy(cluster, dim) — no
joins, no per-vector shuffle beyond the centroid aggregation. The
final near-dup verify joins vectors only within a (cluster, salt)
cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_COS_FOLD = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_DUCK_FOLD = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
)


def with_quant_vec(
    df: DataFrame, scale: int = 512, vec_col: str = "embedding"
) -> DataFrame:
    """Integer-grid quantization: q_i = round(x_i * scale) as BIGINT."""
    return df.withColumn(
        "qvec",
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long"),
        ),
    )


def _assign_batched(q: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Append ``cluster`` = argmin_c ||qvec - centroid_c||^2, ties to the
    smaller cluster id.

    The kernel is an Arrow-batched int64 matmul (mapInPandas): per batch,
    scores = qvec @ (-2 C^T) + ||C||^2 — the ||x||^2 term is constant per
    row and dropped. Everything stays exact int64 (|q| <= ~2048, dims 64
    -> |score| < 2^32), and numpy argmin takes the FIRST minimum, which
    with centroids sorted by cluster id IS the smaller-id tie rule. A
    per-centroid expression fold was measured 6x slower at k ~ n/64
    (interpreted lambda, n*k*dim ops); the matmul is the same arithmetic
    vectorized — SemDeDup's GPU matmul shape on CPU.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 - arrow batch interface

    cent_sorted = sorted(centroids)
    cids = np.array([c for c, _ in cent_sorted], dtype=np.int64)
    cent = np.array([v for _, v in cent_sorted], dtype=np.int64)
    cnorm = (cent * cent).sum(axis=1)
    neg2ct = (-2 * cent).T.copy()
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(q.schema.fields) + [T.StructField("cluster", T.IntegerType())]
    )

    def it(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf["cluster"] = np.array([], dtype="int32")
                yield pdf
                continue
            x = np.array(pdf["qvec"].tolist(), dtype=np.int64)
            scores = x @ neg2ct + cnorm
            pdf["cluster"] = cids[scores.argmin(axis=1)].astype("int32")
            yield pdf

    return q.mapInPandas(it, schema=out_schema)


def kmeans_assignments(
    emb: DataFrame,
    k: int = 8,
    scale: int = 512,
    lloyd_rounds: int = 1,
) -> DataFrame:
    """Deterministic k-means: md5-ranked seeds, ``lloyd_rounds`` update
    rounds, one final assignment. Returns (id, vec, cluster).

    The two driver round-trips per round (seed pick / centroid refresh)
    move k x dim integers — bounded by construction (k is the
    clustering knob, dim is the model's embedding width), the same
    gated-smallness argument as connected_components' union-find
    arm (operators/dedup.py).
    """
    # q feeds the seed pick, every Lloyd round, and the final
    # assignment — materialize once instead of re-quantizing per
    # consumer (a global sort-free analog of the write a clustering
    # pass would stage anyway).
    q = with_quant_vec(emb.select("vec_id", "embedding"), scale).localCheckpoint()
    # Vector hygiene before the matmul kernel: ragged batches (a short,
    # empty, or NULL vector mixed into the corpus) turn np.array(...)
    # inhomogeneous and kill the worker; an empty corpus leaves no
    # seeds at all. Malformed rows are dropped (the documented
    # embedding_vector_hygiene rule); an empty/all-malformed corpus
    # assigns nothing. (tools/hostile_sweep.py nulls + empty worlds)
    # The canonical dimension is the MODAL positive vector length (ties
    # to the larger), not the max: with max, a single corrupt over-long
    # vector would drop every well-formed row — inverting the hygiene
    # intent. One 1-row agg either way. Trade-off (accepted): if CORRUPT
    # vectors ever OUTNUMBER well-formed ones at a single uniform wrong
    # length (e.g. a majority truncated to the same short width), the
    # mode selects the corrupt width and drops the well-formed minority
    # — the dual failure. No heuristic separates the two without an
    # expected-dimension hint; callers that know the model width should
    # pre-filter F.size(vec) == expected_dim before clustering.
    dim_row = (
        q.filter(F.size("qvec") > 0)
        .groupBy(F.size("qvec").alias("d"))
        .count()
        .orderBy(F.desc("count"), F.desc("d"))
        .limit(1)
        .collect()
    )
    dim = dim_row[0]["d"] if dim_row else None
    if not dim or dim <= 0:
        return (
            emb.select("vec_id", "embedding")
            .withColumn("cluster", F.lit(None).cast("int"))
            .filter(F.lit(False))
        )
    q = q.filter(F.size("qvec") == dim)
    seeds = (
        q.select("vec_id", "qvec", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    centroids = [(i, list(row["qvec"])) for i, row in enumerate(seeds)]
    for _ in range(lloyd_rounds):
        assigned = _assign_batched(q, centroids)
        new_rows = (
            assigned.select("cluster", F.posexplode("qvec").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(
                F.round(
                    F.sum("v").cast("double") / F.count(F.lit(1))
                ).cast("long").alias("cv")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for row in new_rows:
            by_cluster.setdefault(row["cluster"], {})[row["dim"]] = row["cv"]
        centroids = [
            (cid, [dims[d] for d in sorted(dims)])
            for cid, dims in sorted(by_cluster.items())
        ]
    return _assign_batched(q, centroids).select("vec_id", "embedding", "cluster")


def semantic_dedup(
    emb: DataFrame,
    target_cluster_size: int = 64,
    scale: int = 512,
    threshold: float = 0.42,
) -> DataFrame:
    """SemDeDup: k-means partition, then near-dup pairs (exact ordered-
    fold cosine >= threshold) only within a cluster; survivorship keeps
    the smallest id of each near-dup neighborhood.

    k scales with the corpus — k = max(8, ceil(n / target_cluster_size))
    — so per-document verify work stays ~target_cluster_size as n grows
    (the SemDeDup contract; a FIXED k would make cluster sizes, and the
    n * cluster_size pair verify, grow linearly with the corpus).
    Measured at sf0.1: fixed k=8 with expression-fold assignment 4.4 s;
    adaptive k + the matmul kernel 2.6 s; + pinning the quantized and
    assigned relations (each had 3-4 consumers re-evaluating the
    lineage) 1.7 s warm, with the verify join no longer the dominant
    stage.

    Output per vector: cluster, cluster_size, n_near (same-cluster
    neighbors at >= threshold), keep (no kept-side duplicate with a
    smaller id).
    """
    n = emb.count()
    k = max(8, -(-n // target_cluster_size))
    # assigned feeds both pair-join sides, the cluster sizes, and the
    # final projection — pin it so the Arrow assignment kernel runs
    # once, not once per consumer.
    assigned = kmeans_assignments(emb, k, scale, 1).localCheckpoint()
    normed = assigned.withColumn(
        "norm", F.sqrt(F.expr(_COS_FOLD.format(a="embedding", b="embedding")))
    )
    # Salted intra-cluster pairing: the raw join key has only k distinct
    # values, which caps the verify at k-way parallelism (and at 100 TB
    # one hot cluster would own the stage). Salt the right side by
    # id % S and replicate the left side S times: same pair set, k*S
    # join partitions, replication cost S * |vectors| rows.
    n_salt = 8
    a = normed.select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster"),
        F.col("embedding").alias("vec_a"),
        F.col("norm").alias("norm_a"),
        F.explode(F.array(*[F.lit(s) for s in range(n_salt)])).alias("salt"),
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster"),
        F.col("embedding").alias("vec_b"),
        F.col("norm").alias("norm_b"),
        F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int").alias("salt"),
    )
    pairs = (
        a.join(b, ["cluster", "salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.expr(_COS_FOLD.format(a="vec_a", b="vec_b"))
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    partners = pairs.select(
        F.col("id_a").alias("vec_id"), F.col("id_b").alias("partner")
    ).unionByName(
        pairs.select(F.col("id_b").alias("vec_id"), F.col("id_a").alias("partner"))
    )
    stats = partners.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_near"), F.min("partner").alias("min_partner")
    )
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        assigned.join(F.broadcast(sizes), "cluster")
        .join(stats, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "cluster_size",
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
            (
                F.col("min_partner").isNull()
                | (F.col("min_partner") > F.col("vec_id"))
            ).alias("keep"),
        )
    )


def semantic_dedup_oracle_sql(
    target_cluster_size: int = 64,
    scale: int = 512,
    threshold: float = 0.42,
) -> str:
    """DuckDB twin: same integer grid, same md5 seeds, same adaptive
    k = max(8, ceil(n/target)), same single Lloyd round, same tie
    rules, same ordered cosine fold."""
    dist = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    k_sql = (
        f"(SELECT greatest(8, CAST(ceil(count(*) / {target_cluster_size}.0) "
        "AS BIGINT)) FROM embeddings)"
    )
    return f"""
        WITH q AS (
            SELECT vec_id, embedding,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT))
                       AS qvec,
                   md5(CAST(vec_id AS VARCHAR)) AS h
            FROM embeddings
        ), seeds AS (
            SELECT qvec AS cvec,
                   ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
            FROM q QUALIFY cluster < {k_sql}
        ), a1 AS (
            SELECT vec_id, cluster FROM (
                SELECT v.vec_id, s.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {dist.format(a="v.qvec", b="s.cvec")}, s.cluster
                       ) AS rn
                FROM q v CROSS JOIN seeds s
            ) WHERE rn = 1
        ), c1 AS (
            SELECT cluster, dim,
                   CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
            FROM (
                SELECT a1.cluster, generate_subscripts(q.qvec, 1) AS dim,
                       unnest(q.qvec) AS v
                FROM a1 JOIN q USING (vec_id)
            ) GROUP BY cluster, dim
        ), c1v AS (
            SELECT cluster, list(cv ORDER BY dim) AS cvec FROM c1 GROUP BY cluster
        ), a2 AS (
            SELECT vec_id, cluster FROM (
                SELECT v.vec_id, s.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {dist.format(a="v.qvec", b="s.cvec")}, s.cluster
                       ) AS rn
                FROM q v CROSS JOIN c1v s
            ) WHERE rn = 1
        ), normed AS (
            SELECT a2.vec_id, a2.cluster, q.embedding,
                   sqrt({_DUCK_FOLD.format(a="q.embedding", b="q.embedding")}) AS norm
            FROM a2 JOIN q USING (vec_id)
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM normed a JOIN normed b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE {_DUCK_FOLD.format(a="a.embedding", b="b.embedding")}
                      / (a.norm * b.norm) >= {threshold}
        ), partners AS (
            SELECT id_a AS vec_id, id_b AS partner FROM pairs
            UNION ALL
            SELECT id_b AS vec_id, id_a AS partner FROM pairs
        ), stats AS (
            SELECT vec_id, count(*) AS n_near, min(partner) AS min_partner
            FROM partners GROUP BY vec_id
        ), sizes AS (
            SELECT cluster, count(*) AS cluster_size FROM a2 GROUP BY cluster
        )
        SELECT a2.vec_id, a2.cluster, sizes.cluster_size,
               COALESCE(stats.n_near, 0) AS n_near,
               (stats.min_partner IS NULL OR stats.min_partner > a2.vec_id)
                   AS keep
        FROM a2
        JOIN sizes USING (cluster)
        LEFT JOIN stats USING (vec_id)
    """
