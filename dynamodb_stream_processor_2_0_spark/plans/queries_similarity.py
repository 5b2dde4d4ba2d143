"""Embedding similarity-search queries over ``embeddings``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dynamodb_stream_processor_2_0_spark.operators import clustering as C
from dynamodb_stream_processor_2_0_spark.operators import similarity as S
from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

_QUERY_PRED_SQL = "vec_id < 8"
_PLANES = S.hyperplane_signs(num_planes=6, dim=64)
# Near-dup banding: 2 bands x 6 bits. 64 buckets per band keeps the
# candidate set ~1% of the n^2 pair space (measured at sf0.1: 60k of
# 2M pairs) while the OR over bands preserves usable recall.
_ND_PLANES = S.hyperplane_signs(num_planes=12, dim=64)


@register(
    "embedding_cosine_topk",
    oracle=S.cosine_topk_oracle_sql(k=5, query_pred=_QUERY_PRED_SQL),
    tags=("similarity", "llm", "ann"),
    doc="Exact brute-force cosine top-5 per query vector (broadcast queries, ordered double fold).",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.cosine_topk(emb, queries, k=5)


@register(
    "embedding_ann_lsh",
    oracle=S.lsh_bucket_topk_oracle_sql(_PLANES, k=5, query_pred=_QUERY_PRED_SQL),
    tags=("similarity", "llm", "ann", "lsh"),
    doc="Approximate top-5 via 6-bit sign-LSH bucketing (md5-derived hyperplanes).",
)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.lsh_bucket_topk(emb, queries, _PLANES, k=5)


@register(
    "embedding_ann_ivf",
    oracle=S.ivf_probe_topk_oracle_sql(k=5, query_pred=_QUERY_PRED_SQL),
    tags=("similarity", "llm", "ann", "ivf"),
    doc="IVF ANN: nProbe=1 probe of label-partitioned inverted lists via decimal-exact centroid inner product, exact in-cell cosine top-5.",
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_probe_topk(emb, F.col("vec_id") < 8, k=5)


@register(
    "dedup_embedding_near",
    oracle=S.near_dup_pairs_oracle_sql(_ND_PLANES, band_size=6, threshold=0.42),
    tags=("similarity", "llm", "dedup", "lsh"),
    doc="Embedding-cosine near-dup pairs: banded sign-LSH candidates (OR of 2x6-bit bands) verified by exact cosine >= 0.42.",
)
def dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(emb, _ND_PLANES, band_size=6, threshold=0.42)


@register(
    "embedding_label_centroids",
    oracle="""
        WITH exploded AS (
            SELECT label, generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding) AS v
            FROM embeddings
        )
        SELECT label, dim,
               CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
                   / count(*) AS centroid_v,
               count(*) AS n_vectors
        FROM exploded
        GROUP BY label, dim
    """,
    tags=("similarity", "llm", "ivf"),
    doc="IVF building block: per-label centroids (decimal-exact mean per dimension).",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "v")
    return exploded.groupBy("label", "dim").agg(
        (
            # float -> double FIRST: Spark's float->decimal cast rounds
            # through the float's 8-digit shortest repr and diverges
            # from engines that convert the exact binary value.
            F.sum(F.col("v").cast("double").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("centroid_v"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "ann_recall_eval",
    oracle=f"""
        WITH exact_r AS (
            {S.cosine_topk_oracle_sql(k=5, query_pred=_QUERY_PRED_SQL)}
        ), lsh_r AS (
            {S.lsh_bucket_topk_oracle_sql(_PLANES, k=5, query_pred=_QUERY_PRED_SQL)}
        ), ivf_r AS (
            {S.ivf_probe_topk_oracle_sql(k=5, query_pred=_QUERY_PRED_SQL)}
        ), mp_r AS (
            {S.lsh_multiprobe_topk_oracle_sql(_PLANES, k=5, query_pred=_QUERY_PRED_SQL)}
        )
        SELECT e.query_id,
               count(*) AS n_exact,
               count(l.neighbor_id) AS n_hit_lsh,
               CAST(count(l.neighbor_id) AS DOUBLE) / count(*) AS recall_lsh,
               count(i.neighbor_id) AS n_hit_ivf,
               CAST(count(i.neighbor_id) AS DOUBLE) / count(*) AS recall_ivf,
               count(m.neighbor_id) AS n_hit_mp,
               CAST(count(m.neighbor_id) AS DOUBLE) / count(*) AS recall_mp
        FROM exact_r e
        LEFT JOIN lsh_r l
          ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
        LEFT JOIN ivf_r i
          ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
        LEFT JOIN mp_r m
          ON m.query_id = e.query_id AND m.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """,
    tags=("similarity", "llm", "ann", "eval"),
    doc="ANN quality evaluation: recall@5 of BOTH approximate indexes "
    "(sign-LSH single-probe, IVF nProbe=1, multi-probe LSH) against "
    "exact brute-force ground "
    "truth per query vector — the metric that decides which index "
    "configuration is usable; all arms reuse the production operators, "
    "so the eval measures what ships.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground truth (brute force) is the expensive arm and exists only
    at eval time over a query SAMPLE — the pattern at 100 TB: exact
    top-k over a few hundred probes prices the index, never the full
    corpus. The hit-join is per (query, neighbor) on two k-row-per-query
    frames: negligible next to the scoring."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    lsh = (
        S.lsh_bucket_topk(emb, queries, _PLANES, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("hit_lsh", F.lit(1))
    )
    ivf = (
        S.ivf_probe_topk(emb, F.col("vec_id") < 8, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("hit_ivf", F.lit(1))
    )
    mp = (
        S.lsh_multiprobe_topk(emb, queries, _PLANES, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("hit_mp", F.lit(1))
    )
    return (
        exact.join(lsh, ["query_id", "neighbor_id"], "left")
        .join(ivf, ["query_id", "neighbor_id"], "left")
        .join(mp, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit_lsh").alias("n_hit_lsh"),
            (F.count("hit_lsh").cast("double") / F.count(F.lit(1))).alias(
                "recall_lsh"
            ),
            F.count("hit_ivf").alias("n_hit_ivf"),
            (F.count("hit_ivf").cast("double") / F.count(F.lit(1))).alias(
                "recall_ivf"
            ),
            F.count("hit_mp").alias("n_hit_mp"),
            (F.count("hit_mp").cast("double") / F.count(F.lit(1))).alias(
                "recall_mp"
            ),
        )
        .orderBy("query_id")
    )


@register(
    "embedding_ann_multiprobe",
    oracle=S.lsh_multiprobe_topk_oracle_sql(
        _PLANES, k=5, query_pred=_QUERY_PRED_SQL
    ),
    tags=("similarity", "llm", "ann", "lsh"),
    doc="Multi-probe sign-LSH top-5: the single-probe index probed at "
    "the query bucket plus all Hamming-1 buckets — recovers neighbors "
    "lost to one wrong hyperplane side for (b+1)x candidate work, the "
    "recall/cost knob measured by ann_recall_eval.",
)
def embedding_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.lsh_multiprobe_topk(emb, queries, _PLANES, k=5)


@register(
    "embedding_int8_quant_topk",
    oracle=S.int8_quantized_topk_oracle_sql(k=5, query_pred=_QUERY_PRED_SQL),
    tags=("similarity", "llm", "ann", "quantization"),
    doc="Int8-quantized top-5 per query: per-vector symmetric scalar "
    "quantization (round(x*127/max|x|)) then exact integer dot-product "
    "ranking — the 4x-compressed scan side of a shortlist+rerank ANN "
    "pipeline; integer scores make the result engine-exact by "
    "construction (no float ordering at the gate).",
)
def embedding_int8_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.int8_quantized_topk(emb, queries, k=5)


@register(
    "semantic_dedup_kmeans",
    oracle=C.semantic_dedup_oracle_sql(
        target_cluster_size=64, scale=512, threshold=0.42
    ),
    tags=("similarity", "llm", "dedup", "kmeans", "clustering"),
    doc="SemDeDup-style semantic dedup: deterministic integer-exact "
    "k-means (md5-ranked seeds, one Lloyd round, BIGINT distances on "
    "the round(x*512) grid so assignment is bit-identical cross-"
    "engine), then near-dup pairs by exact ordered-fold cosine >= 0.42 "
    "ONLY within a cluster. k = max(8, n/64) scales with the corpus so "
    "per-document verify work stays flat; survivorship keeps the "
    "smallest id.",
)
def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-iteration cost: one map-only assignment pass (centroids ride
    as k x dim literal ints, the broadcast-small-dims pattern) + one
    map-side-combined groupBy(cluster, dim). The verify join shuffles
    on (cluster, salt). See operators/clustering.py for the determinism
    contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    return C.semantic_dedup(emb, target_cluster_size=64, scale=512, threshold=0.42)


@register(
    "embedding_vector_hygiene",
    oracle="""
        WITH per_vec AS (
            SELECT label,
                   len(embedding) AS n_dims,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (acc, v) -> acc + v)) AS norm,
                   len(list_filter(embedding,
                        x -> isnan(CAST(x AS DOUBLE))
                             OR isinf(CAST(x AS DOUBLE)))) > 0 AS bad
            FROM embeddings
        )
        SELECT label,
               count(*) AS n_vectors,
               min(n_dims) AS min_dims,
               max(n_dims) AS max_dims,
               CAST(sum(CAST(norm AS DECIMAL(18,9))) AS DOUBLE) / count(*)
                   AS mean_norm,
               count(*) FILTER (WHERE norm = 0) AS n_zero,
               count(*) FILTER (WHERE bad) AS n_nonfinite
        FROM per_vec
        GROUP BY label
        ORDER BY label
    """,
    tags=("similarity", "data-ops", "llm", "integrity"),
    doc="Embedding-column hygiene audit: per-label vector counts, "
    "dimension uniformity (min=max proves no ragged rows), mean L2 "
    "norm (decimal-pinned sum, order-independent), zero-vector and "
    "non-finite counts — the preflight every ANN/dedup pass needs "
    "before trusting cosine math. Per-row norms fold sequentially "
    "(deterministic); one map-side-combined shuffle on label.",
)
def embedding_vector_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x0: x0.cast("double") * x0.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    bad = (
        F.size(
            F.filter(
                "embedding",
                lambda x0: F.isnan(x0.cast("double"))
                | (F.abs(x0.cast("double")) == F.lit(float("inf"))),
            )
        )
        > 0
    )
    per_vec = emb.select(
        "label",
        F.size("embedding").alias("n_dims"),
        norm.alias("norm"),
        bad.alias("bad"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("n_dims").alias("min_dims"),
            F.max("n_dims").alias("max_dims"),
            (
                F.sum(F.col("norm").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_norm"),
            F.count_if(F.col("norm") == 0).alias("n_zero"),
            F.count_if("bad").alias("n_nonfinite"),
        )
        .orderBy("label")
    )


@register(
    "embedding_covariance_stats",
    oracle="""
        WITH ex AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ), dim_stats AS (
            SELECT dim, count(*) AS n_vectors,
                   sum(CAST(round(v * 100000000.0) AS BIGINT)) AS q_s,
                   sum(CAST(round(v * v * 100000000.0) AS BIGINT)) AS q_ss
            FROM ex GROUP BY dim
        ), cross_m AS (
            SELECT a.dim AS dim_i, b.dim AS dim_j,
                   sum(CAST(round(a.v * b.v * 100000000.0) AS BIGINT)) AS q_sij
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.dim >= a.dim
            GROUP BY a.dim, b.dim
        )
        SELECT dim_i, dim_j, di.n_vectors,
               (CAST(q_sij AS DOUBLE) / 100000000.0 / di.n_vectors)
               - (CAST(di.q_s AS DOUBLE) / 100000000.0 / di.n_vectors)
                 * (CAST(dj.q_s AS DOUBLE) / 100000000.0 / dj.n_vectors) AS cov,
               ((CAST(q_sij AS DOUBLE) / 100000000.0 / di.n_vectors)
                - (CAST(di.q_s AS DOUBLE) / 100000000.0 / di.n_vectors)
                  * (CAST(dj.q_s AS DOUBLE) / 100000000.0 / dj.n_vectors))
               / sqrt(((CAST(di.q_ss AS DOUBLE) / 100000000.0 / di.n_vectors)
                       - (CAST(di.q_s AS DOUBLE) / 100000000.0 / di.n_vectors)
                         * (CAST(di.q_s AS DOUBLE) / 100000000.0 / di.n_vectors))
                      * ((CAST(dj.q_ss AS DOUBLE) / 100000000.0 / dj.n_vectors)
                         - (CAST(dj.q_s AS DOUBLE) / 100000000.0 / dj.n_vectors)
                           * (CAST(dj.q_s AS DOUBLE) / 100000000.0 / dj.n_vectors)))
                   AS corr
        FROM cross_m
        JOIN dim_stats di ON di.dim = dim_i
        JOIN dim_stats dj ON dj.dim = dim_j
    """,
    tags=("similarity", "llm", "stats"),
    doc="PCA/whitening prep for the embedding pipeline: the upper-"
    "triangle covariance and correlation matrix of the embedding "
    "dimensions. Determinism without decimal cost: each product is an "
    "IEEE-exact double, quantized to the 1e-8 grid (round half away "
    "from zero — identical rule in both engines) and summed as BIGINT, "
    "an exact integer reduction no shuffle order can perturb; "
    "divisions and sqrt run in double afterwards (exactly-rounded, "
    "engine-deterministic). The BIGINT headroom is ~9e9 vectors per "
    "dimension pair at this grid. Layout: per-dim stats come from the "
    "single-explode stream (n*dims rows, 2 long sums) and only the "
    "cross products pay the pair expansion (n*dims^2/2 rows, ONE long "
    "sum) — the earlier version ran 5 decimal aggregations over the "
    "full pair stream and took 33 s at sf0.1; this shape runs ~6x "
    "faster and joins the 64-row dim_stats back by broadcast. At "
    "100 TB the driver-side eigendecomposition of the 64x64 result is "
    "free.",
)
def embedding_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    Q = 100000000.0  # 1e-8 quantization grid for exact integer sums
    ex = emb.select(
        "embedding", F.posexplode("embedding").alias("i0", "vi")
    )
    qsum = lambda c: F.sum(F.round(c * Q).cast("long"))  # noqa: E731
    dim_stats = (
        ex.select((F.col("i0") + 1).alias("dim"), F.col("vi").cast("double").alias("v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            qsum(F.col("v")).alias("q_s"),
            qsum(F.col("v") * F.col("v")).alias("q_ss"),
        )
    )
    pairs = ex.select(
        (F.col("i0") + 1).alias("dim_i"),
        F.col("vi").cast("double").alias("vi"),
        F.posexplode(
            F.slice(
                "embedding", F.col("i0") + 1, F.size("embedding") - F.col("i0")
            )
        ).alias("j0", "vj"),
    ).select(
        "dim_i",
        (F.col("dim_i") + F.col("j0")).alias("dim_j"),
        "vi",
        F.col("vj").cast("double").alias("vj"),
    )
    cross_m = pairs.groupBy("dim_i", "dim_j").agg(
        qsum(F.col("vi") * F.col("vj")).alias("q_sij")
    )
    di = dim_stats.select(
        F.col("dim").alias("dim_i"),
        F.col("n_vectors"),
        F.col("q_s").alias("qs_i"),
        F.col("q_ss").alias("qss_i"),
    )
    dj = dim_stats.select(
        F.col("dim").alias("dim_j"),
        F.col("q_s").alias("qs_j"),
        F.col("q_ss").alias("qss_j"),
    )
    n = F.col("n_vectors")
    e = lambda c: c.cast("double") / F.lit(Q) / n  # noqa: E731
    cov = e(F.col("q_sij")) - e(F.col("qs_i")) * e(F.col("qs_j"))
    var_i = e(F.col("qss_i")) - e(F.col("qs_i")) * e(F.col("qs_i"))
    var_j = e(F.col("qss_j")) - e(F.col("qs_j")) * e(F.col("qs_j"))
    return (
        cross_m.join(F.broadcast(di), "dim_i")
        .join(F.broadcast(dj), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            "n_vectors",
            cov.alias("cov"),
            # try_divide: a zero-variance dimension (all-equal values)
            # yields corr NULL like the oracle's x/0, not a job kill
            F.try_divide(cov, F.sqrt(var_i * var_j)).alias("corr"),
        )
    )


_RP_PLANES = S.hyperplane_signs(num_planes=16, dim=64)


@register(
    "embedding_random_projection",
    oracle=S.random_projection_recall_oracle_sql(
        _RP_PLANES, k=5, query_pred=_QUERY_PRED_SQL
    ),
    tags=("similarity", "llm", "ann", "projection"),
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims "
    "(md5-derived +-1 directions, Achlioptas construction): cosine "
    "top-5 in the 4x-compressed projected space, measured as recall@5 "
    "against exact 64-dim ground truth per query — the dimensionality-"
    "reduction arm of the ANN toolbox next to LSH/IVF/int8.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection is map-only (16 ordered folds per row); both ranking
    arms reuse cosine_topk, so the eval measures exactly what a
    production shortlist+rerank would run. The projected scan is the
    scale story: 4x less data per scored candidate."""
    emb = load_table(spark, sf_dir, "embeddings")
    proj = S.with_random_projection(emb, _RP_PLANES)
    pq = proj.filter(F.col("vec_id") < 8)
    rp = (
        S.cosine_topk(proj, pq, k=5, vec_col="pvec")
        .select("query_id", "neighbor_id")
        .withColumn("hit_rp", F.lit(1))
    )
    exact = S.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(rp, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit_rp").alias("n_hit_rp"),
            (F.count("hit_rp").cast("double") / F.count(F.lit(1))).alias(
                "recall_rp"
            ),
        )
        .orderBy("query_id")
    )


@register(
    "semantic_search_hydrated",
    oracle=f"""
        WITH ann AS (
            {S.lsh_multiprobe_topk_oracle_sql(_PLANES, k=5, query_pred=_QUERY_PRED_SQL)}
        )
        SELECT a.query_id, a.rank, a.cosine,
               d.doc_id, d.lang, d.source, d.n_chars
        FROM ann a
        JOIN documents d ON d.doc_id = a.neighbor_id
    """,
    tags=("similarity", "llm", "ann", "retrieval"),
    doc="Retrieval end-to-end (the RAG read path): multi-probe sign-LSH "
    "ANN top-5 per query vector, then the neighbor ids hydrate against "
    "the documents table for serving metadata — the index answers from "
    "ids alone and only the k survivors per query touch the (wide) "
    "document store, which is the access pattern that keeps retrieval "
    "cheap at 100 TB corpus scale.",
)
def semantic_search_hydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hydration join is k x |queries| rows against documents — a
    broadcast of the ANN result onto the doc table scan; document
    payloads never enter the ANN stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.filter(F.col("vec_id") < 8)
    ann = S.lsh_multiprobe_topk(emb, queries, _PLANES, k=5)
    return docs.join(
        F.broadcast(ann), docs["doc_id"] == ann["neighbor_id"]
    ).select(
        "query_id", "rank", "cosine", "doc_id", "lang", "source", "n_chars"
    )


@register(
    "embedding_binary_hamming_topk",
    oracle="""
        WITH packed AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(32), d ->
                       CASE WHEN embedding[d + 1] > 0
                            THEN CAST(1 AS BIGINT) << d ELSE 0 END))
                       AS BIGINT) AS lo,
                   CAST(list_sum(list_transform(range(32), d ->
                       CASE WHEN embedding[d + 33] > 0
                            THEN CAST(1 AS BIGINT) << d ELSE 0 END))
                       AS BIGINT) AS hi
            FROM embeddings
        ), qry AS (
            SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
            FROM packed WHERE vec_id < 8
        ), scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   CAST(bit_count(xor(q.qlo, c.lo))
                        + bit_count(xor(q.qhi, c.hi)) AS INTEGER) AS hamming
            FROM qry q JOIN packed c ON c.vec_id <> q.query_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY hamming, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, hamming
        FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "llm", "ann", "quantization", "binary"),
    doc="Binary-quantized ANN (the 64x-compressed scan): each 64-dim "
    "float vector packs to two BIGINT sign words; candidates rank by "
    "Hamming distance (two XOR+popcounts per comparison — the cheapest "
    "possible vector scan, the BQ arm next to int8 and LSH). Integer "
    "outputs make the ranking engine-exact; ties break on neighbor id.",
)
def embedding_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same plan shape as cosine_topk — broadcast queries, map-side
    scoring, one rank shuffle — but each comparison is 2 XORs + 2
    popcounts instead of a 64-float fold."""
    emb = load_table(spark, sf_dir, "embeddings")

    # expression-built packing: shiftleft needs a literal bit count, so
    # build the two words as explicit 32-term sums (JVM-side, map-only).
    # try_element_at, not element_at: a vector shorter than 64 dims must
    # pack its missing tail as zero bits (NULL > 0 is false), matching
    # the oracle's out-of-range-list NULL — element_at kills the job
    # under ANSI (tools/hostile_sweep.py degenerate world).
    def packed_word(base: int) -> F.Column:
        terms = [
            F.when(
                F.try_element_at("embedding", F.lit(base + d + 1)) > 0,
                F.lit(1 << d).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for d in range(32)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    packed = emb.select(
        "vec_id", packed_word(0).alias("lo"), packed_word(32).alias("hi")
    )
    qry = packed.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = packed.join(
        F.broadcast(qry), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
        )
        .cast("int")
        .alias("hamming"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


def _mmr_oracle_sql() -> str:
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    return f"""
        WITH short AS (
            {S.cosine_topk_oracle_sql(k=10, query_pred=_QUERY_PRED_SQL)}
        ), normed AS (
            SELECT vec_id, embedding,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS norm
            FROM embeddings
        ), sims AS (
            SELECT s1.query_id, s1.neighbor_id AS a, s2.neighbor_id AS b,
                   {dot.format(a="va.embedding", b="vb.embedding")}
                       / (va.norm * vb.norm) AS sim
            FROM short s1
            JOIN short s2 ON s1.query_id = s2.query_id
            JOIN normed va ON va.vec_id = s1.neighbor_id
            JOIN normed vb ON vb.vec_id = s2.neighbor_id
        ), sel1 AS (
            SELECT query_id, neighbor_id AS c1, cosine AS rel1
            FROM short WHERE rank = 1
        ), step2 AS (
            SELECT query_id, c2, rel2 FROM (
                SELECT s.query_id, s.neighbor_id AS c2, s.cosine AS rel2,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.query_id
                           ORDER BY s.cosine - 0.5 * m.sim DESC,
                                    s.neighbor_id) AS rn
                FROM short s
                JOIN sel1 ON sel1.query_id = s.query_id
                JOIN sims m ON m.query_id = s.query_id
                          AND m.a = s.neighbor_id AND m.b = sel1.c1
                WHERE s.neighbor_id <> sel1.c1
            ) WHERE rn = 1
        ), step3 AS (
            SELECT query_id, c3, rel3 FROM (
                SELECT s.query_id, s.neighbor_id AS c3, s.cosine AS rel3,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.query_id
                           ORDER BY s.cosine
                                    - 0.5 * greatest(m1.sim, m2.sim) DESC,
                                    s.neighbor_id) AS rn
                FROM short s
                JOIN sel1 ON sel1.query_id = s.query_id
                JOIN step2 ON step2.query_id = s.query_id
                JOIN sims m1 ON m1.query_id = s.query_id
                           AND m1.a = s.neighbor_id AND m1.b = sel1.c1
                JOIN sims m2 ON m2.query_id = s.query_id
                           AND m2.a = s.neighbor_id AND m2.b = step2.c2
                WHERE s.neighbor_id <> sel1.c1
                  AND s.neighbor_id <> step2.c2
            ) WHERE rn = 1
        )
        SELECT query_id, 1 AS pick_order, c1 AS cand_id, rel1 AS relevance
        FROM sel1
        UNION ALL
        SELECT query_id, 2, c2, rel2 FROM step2
        UNION ALL
        SELECT query_id, 3, c3, rel3 FROM step3
    """


@register(
    "embedding_mmr_diverse_topk",
    oracle=_mmr_oracle_sql(),
    tags=("similarity", "llm", "ann", "retrieval", "rerank"),
    doc="MMR (maximal marginal relevance) diversity reranking — the "
    "RAG rerank step after ANN: from each query's exact cosine top-10 "
    "shortlist, greedily pick 3 results maximizing relevance - 0.5 * "
    "max-similarity-to-already-picked (ties to the smaller id). The "
    "greedy rounds are unrolled as plain relational steps over the "
    "10x10 per-query similarity matrix, so both engines compute the "
    "identical selection — no imperative rerank loop.",
)
def embedding_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortlist + pairwise sims shuffle on query_id only (10 rows and
    100 sims per query); each greedy round is one join + one bounded
    window. At 100 TB the rerank cost is queries x shortlist^2 —
    independent of corpus size, which is the point of shortlisting."""
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    short = S.cosine_topk(emb, queries, k=10)
    normed = S.with_norm(emb).select(
        F.col("vec_id"), F.col("embedding"), F.col("norm")
    )
    s1 = short.select("query_id", F.col("neighbor_id").alias("a"))
    s2 = short.select("query_id", F.col("neighbor_id").alias("b"))
    va = normed.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    vb = normed.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    sims = (
        s1.join(s2, "query_id")
        .join(va, "a")
        .join(vb, "b")
        .select(
            "query_id",
            "a",
            "b",
            # try_divide: zero-norm shortlist members yield NULL pairwise
            # sim (greatest() then ignores it) instead of a job kill
            F.try_divide(
                F.expr(
                    "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) "
                    "* CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), "
                    "(acc, v) -> acc + v)"
                ),
                F.col("na") * F.col("nb"),
            ).alias("sim"),
        )
        .localCheckpoint()
    )
    sel1 = short.filter(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").alias("c1"), F.col("cosine").alias("rel1")
    )
    w = W.partitionBy("query_id")
    step2 = (
        short.join(sel1, "query_id")
        .filter(F.col("neighbor_id") != F.col("c1"))
        .join(
            sims.select("query_id", F.col("a").alias("neighbor_id"),
                        F.col("b").alias("c1"), "sim"),
            ["query_id", "neighbor_id", "c1"],
        )
        .withColumn("score", F.col("cosine") - 0.5 * F.col("sim"))
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("score"), "neighbor_id")),
        )
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("c2"),
                F.col("cosine").alias("rel2"))
    )
    step3 = (
        short.join(sel1, "query_id")
        .join(step2, "query_id")
        .filter(
            (F.col("neighbor_id") != F.col("c1"))
            & (F.col("neighbor_id") != F.col("c2"))
        )
        .join(
            sims.select("query_id", F.col("a").alias("neighbor_id"),
                        F.col("b").alias("c1"), F.col("sim").alias("sim1")),
            ["query_id", "neighbor_id", "c1"],
        )
        .join(
            sims.select("query_id", F.col("a").alias("neighbor_id"),
                        F.col("b").alias("c2"), F.col("sim").alias("sim2")),
            ["query_id", "neighbor_id", "c2"],
        )
        .withColumn(
            "score",
            F.col("cosine") - 0.5 * F.greatest("sim1", "sim2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("score"), "neighbor_id")),
        )
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("c3"),
                F.col("cosine").alias("rel3"))
    )
    return (
        sel1.select(
            "query_id",
            F.lit(1).alias("pick_order"),
            F.col("c1").alias("cand_id"),
            F.col("rel1").alias("relevance"),
        )
        .unionByName(
            step2.select(
                "query_id",
                F.lit(2).alias("pick_order"),
                F.col("c2").alias("cand_id"),
                F.col("rel2").alias("relevance"),
            )
        )
        .unionByName(
            step3.select(
                "query_id",
                F.lit(3).alias("pick_order"),
                F.col("c3").alias("cand_id"),
                F.col("rel3").alias("relevance"),
            )
        )
    )


@register(
    "embedding_hard_negative_mine",
    oracle=f"""
        WITH ann AS (
            {S.lsh_multiprobe_topk_oracle_sql(_PLANES, k=10, query_pred=_QUERY_PRED_SQL)}
        ), pos AS (
            {S.near_dup_pairs_oracle_sql(_ND_PLANES, band_size=6, threshold=0.42)}
        )
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
               ) AS hn_rank
        FROM ann a
        WHERE NOT EXISTS (
            SELECT 1 FROM pos p
            WHERE (p.id_a = a.query_id AND p.id_b = a.neighbor_id)
               OR (p.id_a = a.neighbor_id AND p.id_b = a.query_id)
        )
        QUALIFY hn_rank <= 3
        ORDER BY query_id, hn_rank
    """,
    tags=("similarity", "llm", "ann", "training-data"),
    doc="Hard-negative mining (the contrastive-training companion to "
    "contrastive_pair_sample's random negatives): for each query, the "
    "top near-but-not-duplicate neighbors — ANN top-10 via the "
    "multi-probe sign-LSH index, anti-joined against the REGISTERED "
    "near-duplicate pair set (dedup_embedding_near's banded-LSH + "
    "exact-cosine verify), then re-ranked to the 3 hardest survivors. "
    "Hard negatives are what make retrieval/embedding training work "
    "(in-batch randoms are too easy); mining them is exactly "
    "ANN-minus-positives, so the whole op reuses the two already-"
    "budgeted indexes and adds only a broadcast anti-join of the "
    "(tiny) positive pair set plus a bounded per-query window. At "
    "100 TB nothing new shuffles: the ANN probe is bucket-pruned, the "
    "positive set rides the dedup pipeline's output.",
)
def embedding_hard_negative_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    ann = S.lsh_multiprobe_topk(emb, queries, _PLANES, k=10)
    pos = S.near_dup_pairs(emb, _ND_PLANES, band_size=6, threshold=0.42).select(
        "id_a", "id_b"
    )
    sym = pos.unionByName(
        pos.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    hard = ann.join(
        F.broadcast(sym),
        (F.col("query_id") == F.col("id_a"))
        & (F.col("neighbor_id") == F.col("id_b")),
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        hard.withColumn("hn_rank", F.row_number().over(w))
        .filter(F.col("hn_rank") <= 3)
        .select("query_id", "neighbor_id", "cosine", "hn_rank")
        .orderBy("query_id", "hn_rank")
    )


# --- top principal component via power iteration (round 6) -----------------

# Grid: embeddings quantize to 1e4; the mean is a sign-extracted
# truncating division (exact, engine-invariant); the scatter matrix
# S = sum(d_i * d_j) is exact BIGINT; each power-iteration step
# renormalizes with an arithmetic right shift to 14 bits so the next
# matvec stays far under the BIGINT range (|S| ~ n * 1e8, v <= 2^14,
# 64 terms => < 6e17 at sf0.1). At vastly larger n the grid coarsens
# or S moves to DECIMAL(38,0) — a constant change, the plan holds.
_PCA_Q = 10_000
_PCA_NORM_BITS = 14
_PCA_TOPD = 5

_PCA_SIGN_DIV_D = "(CASE WHEN {a} >= 0 THEN 1 ELSE -1 END) * (abs({a}) // {b})"
# zero-denominator guard: an all-equal embedding column centers to the
# zero vector, so vmax/nv can be 0 — NULL (the oracle's // semantics),
# not an ANSI div-by-zero job kill (tools/hostile_sweep.py)
_PCA_SIGN_DIV_S = (
    "(CASE WHEN {b} = 0 THEN NULL ELSE "
    "(CASE WHEN {a} >= 0 THEN 1 ELSE -1 END) * (abs({a}) div {b}) END)"
)
_PCA_SHIFT_D = (
    "(CASE WHEN {v} >= 0 THEN 1 ELSE -1 END) * (abs({v}) >> {s})"
)
_PCA_SHIFT_S = (
    "(CASE WHEN {v} >= 0 THEN 1 ELSE -1 END)"
    " * shiftright(abs({v}), cast({s} as int))"
)


def _pca_oracle_sql() -> str:
    iter_cte = """, v{k} AS (
        SELECT s.i AS dim, CAST(sum(s.sv * v.nv) AS BIGINT) AS v
        FROM scatter s JOIN n{p} v ON v.dim = s.j
        GROUP BY s.i
    ), n{k} AS (
        SELECT dim,
               {shift} AS nv
        FROM v{k}, (SELECT greatest(length(bin(max(abs(v)))) - %d, 0)
                    AS sh FROM v{k}) x
    )""" % _PCA_NORM_BITS
    shift_d = _PCA_SHIFT_D.format(v="v", s="x.sh")
    ctes = ""
    for k in (1, 2, 3):
        ctes += iter_cte.format(k=k, p=k - 1, shift=shift_d)
    lam = _PCA_SIGN_DIV_D.format(a="v3.v", b="n2.nv")
    load = _PCA_SIGN_DIV_D.format(
        a="(v3.v * 1000)", b="(SELECT max(abs(v)) FROM v3)"
    )
    return f"""
        WITH ex AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE)
                        * {_PCA_Q}) AS BIGINT) AS q
            FROM embeddings
        ), mu AS (
            SELECT dim,
                   {_PCA_SIGN_DIV_D.format(a="sum(q)", b="count(*)")} AS mu
            FROM ex GROUP BY dim
        ), cent AS (
            SELECT e.vec_id, e.dim, e.q - m.mu AS d
            FROM ex e JOIN mu m USING (dim)
        ), scatter AS (
            SELECT a.dim AS i, b.dim AS j,
                   CAST(sum(a.d * b.d) AS BIGINT) AS sv
            FROM cent a JOIN cent b ON a.vec_id = b.vec_id
            GROUP BY a.dim, b.dim
        ), n0 AS (
            SELECT DISTINCT i AS dim, CAST(1 AS BIGINT) AS nv FROM scatter
        ){ctes}, lam AS (
            SELECT {lam} AS lambda_est
            FROM v3 JOIN n2 USING (dim)
            WHERE abs(n2.nv) = (SELECT max(abs(nv)) FROM n2)
            ORDER BY dim LIMIT 1
        ), ranked AS (
            SELECT v3.dim, {load} AS loading_permille,
                   row_number() OVER (ORDER BY abs(v3.v) DESC, v3.dim ASC)
                       AS rank
            FROM v3
        )
        SELECT CAST(rank AS INTEGER) AS rank, CAST(dim AS BIGINT) AS dim,
               CAST(loading_permille AS BIGINT) AS loading_permille,
               (SELECT CAST(lambda_est AS BIGINT) FROM lam) AS lambda_est
        FROM ranked WHERE rank <= {_PCA_TOPD}
        ORDER BY rank
    """


@register(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle_sql(),
    tags=("similarity", "llm", "stats", "iterative"),
    doc="Top principal component of the embedding cloud by POWER "
    "ITERATION, exactly: center on a 1e4 integer grid (sign-"
    "extracted truncating mean), build the exact BIGINT scatter "
    "matrix S = sum(d_i d_j), then three matvec rounds v <- S v, "
    "each renormalized by an arithmetic right shift to 14 bits "
    "(bitlen of the max |coordinate|) so every iterate is "
    "bit-identical cross-engine — iterative numerical linear "
    "algebra with zero floats and zero convergence ambiguity. "
    "Reports the top-5 |loading| dimensions on a permille grid and "
    "the eigenvalue estimate as the exact ratio v3/v2' at the "
    "dominant coordinate — the PCA direction the whitening/"
    "dim-reduction ops (embedding_covariance_stats, "
    "embedding_random_projection) are prep for. Plan: one explode "
    "+ pair join builds S (the only data-sized work, same shape as "
    "the covariance op); each iteration is a 64x64-row join — "
    "constant cost at any corpus size.",
)
def embedding_pca_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "vi")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("dim"),
        F.round(F.col("vi").cast("double") * _PCA_Q).cast("long").alias("q"),
    )
    mu = ex.groupBy("dim").agg(
        F.expr(
            _PCA_SIGN_DIV_S.format(a="sum(q)", b="count(*)")
        ).alias("mu")
    )
    cent = ex.join(F.broadcast(mu), "dim").select(
        "vec_id", "dim", (F.col("q") - F.col("mu")).alias("d")
    )
    # Scatter build WITHOUT the vec_id self-join: re-assemble each
    # vector's centered coordinates into an array (one narrow shuffle
    # on vec_id), then a DOUBLE posexplode generates all d_i*d_j pairs
    # map-side straight into the partial aggregate — the 64x64-per-
    # vector pair stream never crosses an exchange (the join form
    # shuffled it; measured 3.8 s -> 2.6 s at sf0.1).
    cent_arr = cent.groupBy("vec_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, d))),"
            " s -> s.d)"
        ).alias("ds")
    )
    s1 = cent_arr.select("ds", F.posexplode("ds").alias("i0", "di"))
    s2 = s1.select(
        (F.col("i0") + 1).alias("i"),
        "di",
        F.posexplode("ds").alias("j0", "dj"),
    )
    scatter = (
        s2.groupBy("i", (F.col("j0") + 1).alias("j"))
        .agg(F.sum(F.col("di") * F.col("dj")).cast("long").alias("sv"))
        .localCheckpoint(eager=False)
    )
    v = scatter.select(F.col("i").alias("dim")).distinct().withColumn(
        "nv", F.lit(1).cast("long")
    )
    prev_norm = None
    cur = None
    for _ in range(3):
        cur = (
            scatter.join(
                F.broadcast(v.withColumnRenamed("dim", "jj")),
                F.col("jj") == F.col("j"),
            )
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.expr("sv * nv")).cast("long").alias("v"))
        )
        sh = cur.agg(
            F.greatest(
                F.length(F.bin(F.max(F.abs("v")))) - _PCA_NORM_BITS,
                F.lit(0),
            ).alias("sh")
        )
        prev_norm = v
        v = cur.crossJoin(F.broadcast(sh)).select(
            "dim",
            F.expr(_PCA_SHIFT_S.format(v="v", s="sh")).alias("nv"),
        )
    v3 = cur
    n2 = prev_norm
    vmax = v3.agg(F.max(F.abs("v")).alias("vmax"))
    n2max = n2.agg(F.max(F.abs("nv")).alias("nvmax"))
    lam = (
        v3.join(n2, "dim")
        .crossJoin(F.broadcast(n2max))
        .filter(F.abs("nv") == F.col("nvmax"))
        .orderBy("dim")
        .limit(1)
        .select(
            F.expr(_PCA_SIGN_DIV_S.format(a="v", b="nv"))
            .cast("long")
            .alias("lambda_est")
        )
    )
    wr = Window.orderBy(F.abs("v").desc(), F.col("dim").asc())
    return (
        v3.crossJoin(F.broadcast(vmax))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _PCA_TOPD)
        .crossJoin(F.broadcast(lam))
        .select(
            "rank",
            F.col("dim").cast("long").alias("dim"),
            F.expr(_PCA_SIGN_DIV_S.format(a="(v * 1000)", b="vmax"))
            .cast("long")
            .alias("loading_permille"),
            "lambda_est",
        )
        .orderBy("rank")
    )


# --- IVF nProbe sweep: recall/cost tuning curve (round 6) ------------------

_NPROBE_LEVELS = (1, 2, 4)
_NPROBE_MAX = max(_NPROBE_LEVELS)
_NPROBE_K = 5


def _ivf_nprobe_sweep_oracle_sql() -> str:
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    arms = []
    for p in _NPROBE_LEVELS:
        arms.append(f"""
        SELECT {p} AS nprobe,
               (SELECT count(*) FROM scored WHERE cell_rn <= {p})
                   AS n_candidates_scored,
               count(*) AS n_exact,
               CAST(count(h.neighbor_id) AS BIGINT) AS n_hits,
               CAST(count(h.neighbor_id) * 1000 // count(*) AS BIGINT)
                   AS recall_permille
        FROM exact_r e LEFT JOIN (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rank
                FROM scored WHERE cell_rn <= {p}
            ) WHERE rank <= {_NPROBE_K}
        ) h ON h.query_id = e.query_id AND h.neighbor_id = e.neighbor_id""")
    return f"""
        WITH longs AS (
            SELECT label, generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding) AS v
            FROM embeddings
        ), cent AS (
            SELECT label, dim,
                   CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
                       / count(*) AS c_v
            FROM longs GROUP BY label, dim
        ), ql AS (
            SELECT vec_id AS query_id, generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding) AS qv
            FROM embeddings WHERE {_QUERY_PRED_SQL}
        ), ip AS (
            SELECT query_id, label,
                   sum(CAST(CAST(qv AS DOUBLE) AS DECIMAL(12,10))
                       * CAST(c_v AS DECIMAL(12,10))) AS ip
            FROM ql JOIN cent USING (dim)
            GROUP BY query_id, label
        ), probes AS (
            SELECT query_id, label AS probe_cell, rn AS cell_rn FROM (
                SELECT query_id, label,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY ip DESC, label) AS rn
                FROM ip
            ) WHERE rn <= {_NPROBE_MAX}
        ), normed AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS norm
            FROM embeddings
        ), qn AS (
            SELECT vec_id AS query_id, embedding AS query_vec,
                   norm AS query_norm
            FROM normed WHERE {_QUERY_PRED_SQL}
        ), scored AS (
            SELECT p.query_id, c.vec_id AS neighbor_id, p.cell_rn,
                   {dot.format(a="q.query_vec", b="c.embedding")}
                       / (q.query_norm * c.norm) AS cosine
            FROM probes p
            JOIN qn q USING (query_id)
            JOIN normed c ON c.label = p.probe_cell
                         AND c.vec_id <> p.query_id
        ), exact_r AS (
            {S.cosine_topk_oracle_sql(k=_NPROBE_K, query_pred=_QUERY_PRED_SQL)}
        )
        SELECT * FROM ({" UNION ALL ".join(arms)}) GROUP BY ALL
        ORDER BY nprobe
    """


@register(
    "embedding_ann_ivf_nprobe_sweep",
    oracle=_ivf_nprobe_sweep_oracle_sql(),
    tags=("similarity", "llm", "ann", "ivf", "eval"),
    doc="IVF nProbe TUNING CURVE: recall@5 and candidates-scored for "
    "nProbe in {1,2,4}, from ONE probe pass — cells rank per query "
    "by exact-decimal centroid inner product, every candidate in the "
    "top-4 cells is cosine-scored once with its cell rank attached, "
    "and each sweep level is a rank-filtered window over the shared "
    "scored relation (cell_rn <= p). The recall arm joins exact "
    "brute-force ground truth; candidates-scored is the cost axis — "
    "together they are the knob-vs-quality curve an IVF deployment "
    "tunes before committing (the IVF sibling of ann_recall_eval's "
    "fixed-config comparison and dedup_simhash_threshold_sweep's "
    "threshold curve). Adding sweep levels adds window filters, not "
    "probe passes.",
)
def embedding_ann_ivf_nprobe_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    longs = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    cent = longs.groupBy("label", "dim").agg(
        (
            F.sum(F.col("v").cast("double").cast("decimal(18,9)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("c_v")
    )
    ql = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode("embedding").alias("dim", "qv"),
    )
    ip = (
        ql.join(F.broadcast(cent), "dim")
        .groupBy("query_id", "label")
        .agg(
            F.sum(
                F.col("qv").cast("double").cast("decimal(12,10)")
                * F.col("c_v").cast("decimal(12,10)")
            ).alias("ip")
        )
    )
    w_cell = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.col("label")
    )
    probes = (
        ip.withColumn("cell_rn", F.row_number().over(w_cell))
        .filter(F.col("cell_rn") <= _NPROBE_MAX)
        .select("query_id", F.col("label").alias("probe_cell"), "cell_rn")
    )
    qn = S.with_norm(emb.filter(F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("norm").alias("query_norm"),
    )
    cand = S.with_norm(emb).select(
        F.col("vec_id").alias("cand_id"),
        "label",
        F.col("embedding").alias("cand_vec"),
        F.col("norm").alias("cand_norm"),
    )
    scored = (
        cand.join(
            F.broadcast(probes.join(qn, "query_id")),
            (F.col("label") == F.col("probe_cell"))
            & (F.col("cand_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            "cell_rn",
            F.try_divide(
                S._dot_fold("query_vec", "cand_vec"),
                F.col("query_norm") * F.col("cand_norm"),
            ).alias("cosine"),
        )
        .localCheckpoint(eager=False)
    )
    exact = S.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=_NPROBE_K)
    exact = exact.select("query_id", "neighbor_id")
    arms = []
    for p in _NPROBE_LEVELS:
        wq = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        topk = (
            scored.filter(F.col("cell_rn") <= p)
            .withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= _NPROBE_K)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        n_cand = scored.filter(F.col("cell_rn") <= p).agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates_scored")
        )
        arm = (
            exact.join(topk, ["query_id", "neighbor_id"], "left")
            .agg(
                F.lit(p).cast("int").alias("nprobe"),
                F.count(F.lit(1)).cast("long").alias("n_exact"),
                F.count("hit").cast("long").alias("n_hits"),
                # GLOBAL agg (no groupBy): on an empty exact set this
                # still emits one row with count(*)=0, and ANSI `div 0`
                # would error — the CASE guard is live, not dead
                # (tools/hostile_sweep.py empty world).
                F.expr(
                    "cast(CASE WHEN count(*) = 0 THEN NULL ELSE"
                    " count(hit) * 1000 div count(*) END as bigint)"
                ).alias("recall_permille"),
            )
            .crossJoin(F.broadcast(n_cand))
            .select(
                "nprobe",
                "n_candidates_scored",
                "n_exact",
                "n_hits",
                "recall_permille",
            )
        )
        arms.append(arm)
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out.orderBy("nprobe")


# --- embedding centroid drift ----------------------------------------------

_DRIFT_Q = 10000  # same 1e4 quantization grid as the PCA operator

_CENTROID_DRIFT_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, vec_id % 2 AS half,
               generate_subscripts(embedding, 1) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE)
                    * {_DRIFT_Q}) AS BIGINT) AS q
        FROM embeddings
    ), halves0 AS (
        SELECT half, dim, CAST(sum(q) AS BIGINT) AS c,
               CAST(count(DISTINCT vec_id) AS BIGINT) AS n
        FROM ex GROUP BY half, dim
    ), sh AS (
        SELECT greatest(length(bin(max(abs(c)))) - 20, 0) AS sh
        FROM halves0
    ), halves AS (
        SELECT half, dim, n,
               (CASE WHEN c >= 0 THEN 1 ELSE -1 END)
                   * (abs(c) >> (SELECT sh FROM sh)) AS c
        FROM halves0
    ), joined AS (
        SELECT a.dim, a.c AS ca, b.c AS cb
        FROM halves a JOIN halves b
            ON b.dim = a.dim AND a.half = 0 AND b.half = 1
    ), moments AS (
        SELECT CAST(sum(CAST(ca AS DECIMAL(38, 0))
                        * CAST(cb AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
                   AS dot,
               CAST(sum(CAST(ca AS DECIMAL(38, 0))
                        * CAST(ca AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
                   AS ssa,
               CAST(sum(CAST(cb AS DECIMAL(38, 0))
                        * CAST(cb AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
                   AS ssb,
               CAST(count(*) AS BIGINT) AS dims
        FROM joined
    ), counts AS (
        SELECT CAST(max(CASE WHEN half = 0 THEN n END) AS BIGINT) AS n_a,
               CAST(max(CASE WHEN half = 1 THEN n END) AS BIGINT) AS n_b
        FROM halves
    )
    SELECT c.n_a, c.n_b, m.dims,
           m.dot >= 0 AS aligned,
           CASE WHEN m.dot < 0 OR 1000 * m.dot * m.dot < 900 * m.ssa * m.ssb
                    THEN 'drifted'
                WHEN 1000 * m.dot * m.dot < 990 * m.ssa * m.ssb
                    THEN 'watch'
                WHEN 10000 * m.dot * m.dot < 9990 * m.ssa * m.ssb
                    THEN 'stable'
                ELSE 'identical' END AS drift_band
    FROM moments m, counts c
"""


@register(
    "embedding_centroid_drift",
    oracle=_CENTROID_DRIFT_ORACLE,
    tags=("similarity", "stats", "llm"),
    doc="Embedding-space drift monitor: cosine between the centroids of "
    "two cohorts (vec_id parity stands in for the old/new snapshot "
    "split) — the embedding-side complement to events_psi_drift, the "
    "check a retrained or re-embedded corpus runs before trusting "
    "ANN indexes built on the old geometry. House exactness: "
    "coordinates quantize to the PCA operator's 1e4 grid, centroids "
    "stay as SUM vectors renormalized to 20 bits by a shared "
    "arithmetic right shift (cosine is invariant under positive "
    "scaling; the bound keeps the squared products inside "
    "DECIMAL(38,0) at any corpus size), and cos^2 comparisons "
    "against the 0.9/0.99/"
    "0.999 thresholds are cleared of all divisions and square roots "
    "into DECIMAL(38,0) cross-multiplications (1000*dot^2 vs "
    "900*|a|^2|b|^2 etc.), with the dot sign reported separately "
    "since squaring loses it. Plan: one explode + one groupBy(half, "
    "dim) — 128 rows out of any corpus size — then constant-size "
    "joins; the per-dim partial sums are map-side combinable, so "
    "at 100 TB this is a single scan-reduce.",
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("i0", "vi"),
    ).select(
        "vec_id",
        "half",
        (F.col("i0") + 1).alias("dim"),
        F.round(F.col("vi").cast("double") * _DRIFT_Q)
        .cast("long")
        .alias("q"),
    )
    halves0 = ex.groupBy("half", "dim").agg(
        F.sum("q").cast("long").alias("c"),
        F.countDistinct("vec_id").cast("long").alias("n"),
    )
    # Renormalize centroid sums to <= 20 bits by a shared arithmetic
    # right shift (the PCA renorm idiom): cosine is invariant under
    # positive scaling, and the bound keeps 1000*dot^2 inside
    # DECIMAL(38,0) at ANY corpus size (raw sums overflow past ~1e5
    # vectors on the 1e4 grid).
    sh = F.broadcast(
        halves0.agg(
            F.greatest(
                F.length(F.bin(F.max(F.abs("c")))) - 20, F.lit(0)
            ).alias("sh")
        )
    )
    halves = halves0.crossJoin(sh).select(
        "half",
        "dim",
        "n",
        F.expr(
            "(CASE WHEN c >= 0 THEN 1 ELSE -1 END)"
            " * shiftright(abs(c), cast(sh as int))"
        ).alias("c"),
    )
    a = halves.filter(F.col("half") == 0).select(
        "dim", F.col("c").alias("ca"), F.col("n").alias("n_a")
    )
    b = halves.filter(F.col("half") == 1).select(
        "dim", F.col("c").alias("cb"), F.col("n").alias("n_b")
    )
    joined = a.join(b, "dim")
    dec = "cast({} as decimal(38,0))"
    moments = joined.agg(
        F.sum(
            F.expr(dec.format("ca")) * F.expr(dec.format("cb"))
        ).alias("dot"),
        F.sum(
            F.expr(dec.format("ca")) * F.expr(dec.format("ca"))
        ).alias("ssa"),
        F.sum(
            F.expr(dec.format("cb")) * F.expr(dec.format("cb"))
        ).alias("ssb"),
        F.count(F.lit(1)).cast("long").alias("dims"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    return moments.select(
        "n_a",
        "n_b",
        "dims",
        (F.col("dot") >= 0).alias("aligned"),
        F.expr(
            "CASE WHEN dot < 0 OR 1000 * dot * dot < 900 * ssa * ssb"
            " THEN 'drifted'"
            " WHEN 1000 * dot * dot < 990 * ssa * ssb THEN 'watch'"
            " WHEN 10000 * dot * dot < 9990 * ssa * ssb THEN 'stable'"
            " ELSE 'identical' END"
        ).alias("drift_band"),
    )


# --- nDCG@10 ranking-quality eval ------------------------------------------
#
# Completes the retrieval/ANN eval suite: ann_recall_eval measures SET
# overlap (recall@5); this measures ORDER quality — nDCG@10 of the
# int8-quantized ranking against the exact-cosine ideal, with graded
# relevance rel = 11 - ideal_rank (top ideal hit is worth 10x the
# tenth). The log2 position discounts are FROZEN micro-grid model
# constants (1e6/log2(i+1), i = 1..10) — irrational at runtime, exact
# integers as constants, identical in both engines like the
# Fellegi-Sunter weights. IDCG is then the same constant for every
# query (sum (11-r)*D_r = 29,966,114), so nDCG = DCG * 1000 div IDCG
# needs no per-query ideal resummation.

_NDCG_K = 10
_NDCG_DISCOUNT_MICRO = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)
_NDCG_IDCG_MICRO = sum(
    (11 - r) * d for r, d in enumerate(_NDCG_DISCOUNT_MICRO, start=1)
)

_NDCG_DISCOUNT_SQL = ", ".join(str(d) for d in _NDCG_DISCOUNT_MICRO)


def _ndcg_report_sql(fdiv: str, array_index: str) -> str:
    return f"""
        , graded AS (
            SELECT s.query_id,
                   CAST(COALESCE(11 - e.rank, 0) AS BIGINT)
                       * {array_index} AS gain_micro
            FROM sys_r s
            LEFT JOIN exact_r e
              ON e.query_id = s.query_id
             AND e.neighbor_id = s.neighbor_id
        )
        SELECT query_id,
               CAST(sum(gain_micro) AS BIGINT) AS dcg_micro,
               CAST((sum(gain_micro) * 1000) {fdiv} {_NDCG_IDCG_MICRO}
                    AS BIGINT) AS ndcg_permille
        FROM graded
        GROUP BY query_id
        ORDER BY query_id
    """


@register(
    "eval_ndcg_ranking",
    oracle=f"""
        WITH exact_r AS (
            {S.cosine_topk_oracle_sql(k=_NDCG_K, query_pred=_QUERY_PRED_SQL)}
        ), sys_r AS (
            {S.int8_quantized_topk_oracle_sql(
                k=_NDCG_K, query_pred=_QUERY_PRED_SQL)}
        )
        {_ndcg_report_sql('//', f'[{_NDCG_DISCOUNT_SQL}][s.rank]')}
    """,
    tags=("similarity", "llm", "ann", "eval"),
    doc="nDCG@10 of the int8-quantized ranking against the exact-"
    "cosine ideal — ORDER quality, completing ann_recall_eval's SET "
    "overlap: recall@k treats a top-1-vs-top-10 swap as free, nDCG "
    "charges it by the graded gain (rel = 11 - ideal_rank) times the "
    "frozen micro-grid log2 position discounts (irrational at "
    "runtime, exact integer model constants here, the Fellegi-Sunter "
    "move). IDCG collapses to one shared constant, so the whole eval "
    "is the two production top-k operators plus ONE left join and a "
    "per-query rollup — both arms reuse what ships, and the metric "
    "measures the deployed ranker, not a reimplementation.",
)
def eval_ndcg_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact_r = S.cosine_topk(emb, queries, k=_NDCG_K).select(
        "query_id", "neighbor_id", "rank"
    )
    sys_r = S.int8_quantized_topk(emb, queries, k=_NDCG_K).select(
        "query_id", "neighbor_id", "rank"
    )
    exact_r.createOrReplaceTempView("ndcg_exact_r")
    sys_r.createOrReplaceTempView("ndcg_sys_r")
    return spark.sql(
        "WITH exact_r AS (SELECT * FROM ndcg_exact_r),"
        " sys_r AS (SELECT * FROM ndcg_sys_r)"
        + _ndcg_report_sql(
            "div",
            f"element_at(array({_NDCG_DISCOUNT_SQL}), CAST(s.rank AS INT))",
        )
    )


# --- Calinski-Harabasz clustering-quality index ----------------------------
#
# The eval leg for the k-means family: CH = [SSB/(k-1)] / [SSW/(n-k)]
# over the deterministic k=8 / one-Lloyd-round assignment, computed
# EXACTLY on the round(x*512) integer grid via the scatter identity
#   W_c = n_c * sum_c ||x||^2 - ||sum_c x||^2   (= n_c^2 * within-var)
# so SSW = sum_c W_c / n_c and SST = T / n need one division each —
# taken on a shared milli grid (truncating, engine-invariant), with
# every product in the wide-int type (||sum x||^2 passes 2^63 at
# ~60k vectors/cluster, measured). SSB = SST - SSW on that grid; the
# final CH ratio is one more cross-multiplied division. Higher = more
# separated clusters; the number that says whether k was right.

_CH_K = 8
_CH_SCALE = 512


def _ch_report_sql(fdiv: str, big: str) -> str:
    return f"""
        , expl AS (
            SELECT cluster, dim, v FROM exploded
        ), percd AS (
            SELECT cluster, dim,
                   CAST(sum(v) AS BIGINT) AS sv
            FROM expl GROUP BY cluster, dim
        ), perc AS (
            SELECT e.cluster,
                   CAST(count(*) AS BIGINT) AS nv,
                   CAST(sum(v * v) AS BIGINT) AS ssq
            FROM expl e GROUP BY e.cluster
        ), wc AS (
            SELECT p.cluster,
                   p.nv {fdiv} {64} AS n_c,
                   CAST(p.nv {fdiv} {64} AS {big}) * p.ssq
                       - (SELECT CAST(sum(CAST(d.sv AS {big}) * d.sv)
                                      AS {big})
                          FROM percd d WHERE d.cluster = p.cluster) AS w
            FROM perc p
        ), gstat AS (
            SELECT CAST(sum(n_c) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN n_c = 0 THEN NULL
                            ELSE (w * 1000) {fdiv} n_c END) AS {big})
                       AS ssw_milli
            FROM wc
        ), gd AS (
            SELECT dim, CAST(sum(sv) AS BIGINT) AS gv FROM percd
            GROUP BY dim
        ), tot AS (
            SELECT g.n,
                   CASE WHEN g.n = 0 THEN NULL ELSE
                   ((CAST(g.n AS {big})
                         * (SELECT sum(ssq) FROM perc)
                     - (SELECT CAST(sum(CAST(gv AS {big}) * gv) AS {big})
                        FROM gd)) * 1000) {fdiv} g.n END AS sst_milli,
                   g.ssw_milli
            FROM gstat g
        )
        SELECT n AS n_points,
               CAST({_CH_K} AS BIGINT) AS k,
               CAST(sst_milli AS BIGINT) AS sst_milli,
               CAST(ssw_milli AS BIGINT) AS ssw_milli,
               CAST(sst_milli - ssw_milli AS BIGINT) AS ssb_milli,
               CAST(CASE WHEN ssw_milli = 0 THEN NULL
                         ELSE ((sst_milli - ssw_milli) * (n - {_CH_K}))
                              {fdiv} (ssw_milli * ({_CH_K} - 1))
                    END AS BIGINT) AS ch_index
        FROM tot
    """


def _ch_oracle_sql() -> str:
    dist = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {_CH_SCALE}.0)
                                 AS BIGINT)) AS qvec,
                   md5(CAST(vec_id AS VARCHAR)) AS h
            FROM embeddings
        ), seeds AS (
            SELECT qvec AS cvec,
                   ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
            FROM q QUALIFY cluster < {_CH_K}
        ), a1 AS (
            SELECT vec_id, cluster FROM (
                SELECT v.vec_id, s.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {dist.format(a="v.qvec", b="s.cvec")},
                                    s.cluster
                       ) AS rn
                FROM q v CROSS JOIN seeds s
            ) WHERE rn = 1
        ), c1 AS (
            SELECT cluster, dim,
                   CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)
                       AS cv
            FROM (
                SELECT a1.cluster, generate_subscripts(q.qvec, 1) AS dim,
                       unnest(q.qvec) AS v
                FROM a1 JOIN q USING (vec_id)
            ) GROUP BY cluster, dim
        ), c1v AS (
            SELECT cluster, list(cv ORDER BY dim) AS cvec FROM c1
            GROUP BY cluster
        ), a2 AS (
            SELECT vec_id, cluster FROM (
                SELECT v.vec_id, s.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {dist.format(a="v.qvec", b="s.cvec")},
                                    s.cluster
                       ) AS rn
                FROM q v CROSS JOIN c1v s
            ) WHERE rn = 1
        ), exploded AS (
            SELECT a2.cluster, generate_subscripts(q.qvec, 1) AS dim,
                   unnest(q.qvec) AS v
            FROM a2 JOIN q USING (vec_id)
        )
        {_ch_report_sql('//', 'HUGEINT')}
    """


@register(
    "eval_clustering_calinski_harabasz",
    oracle=_ch_oracle_sql(),
    tags=("similarity", "clustering", "eval", "stats"),
    doc="Calinski-Harabasz index of the deterministic k=8 k-means "
    "assignment — the clustering-quality eval leg beside "
    "ann_recall_eval (ANN), eval_dedup_bcubed (dedup) and "
    "eval_ndcg_ranking (retrieval): variance-ratio SSB/(k-1) over "
    "SSW/(n-k), higher = tighter and better-separated clusters, the "
    "number that validates the k knob semantic_dedup_kmeans exposes. "
    "Exact on the round(x*512) grid via the scatter identity "
    "W_c = n_c * ssq_c - ||sum_c x||^2 (wide-int products — the "
    "squared sums pass 2^63 at ~60k vectors/cluster), one truncating "
    "milli-grid division per cluster and a final cross-multiplied "
    "ratio. Plan: the production assignment pass (broadcast k x dim "
    "centroid literals, map-only) + one (cluster, dim) rollup and "
    "one (cluster) rollup — both map-side combinable; everything "
    "downstream is k x dim sized.",
)
def eval_clustering_calinski_harabasz(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = C.kmeans_assignments(
        emb, k=_CH_K, scale=_CH_SCALE, lloyd_rounds=1
    )
    q = C.with_quant_vec(
        assigned.select("vec_id", "embedding", "cluster"),
        _CH_SCALE,
        "embedding",
    )
    q.select(
        "cluster", F.posexplode("qvec").alias("dim0", "v")
    ).select(
        "cluster", (F.col("dim0") + 1).alias("dim"), "v"
    ).createOrReplaceTempView("ch_exploded")
    return spark.sql(
        "WITH exploded AS (SELECT * FROM ch_exploded)"
        + _ch_report_sql("div", "DECIMAL(38,0)")
    )


# --- text <-> embedding alignment audit ------------------------------------
#
# Cross-modal consistency check for a multimodal corpus where vec_id
# aligns 1:1 with doc_id: pairs the TEXT says are near-duplicates
# (the production MinHash-LSH candidate generator) should also be
# close in EMBEDDING space — a pair that passes lexical near-dup but
# fails cosine >= 0.7 is the signature of stale or misaligned
# embeddings (re-embedded subset, wrong row alignment, version skew),
# the silent corruption a text+vector training pipeline must catch
# before training. Exact arithmetic: embeddings on the round(x*1e4)
# grid, per-pair integer dot products, and the cosine threshold
# cleared of sqrt/division by the house cross-multiplication
# (dot >= 0 AND 100*dot^2 >= 49*|a|^2*|b|^2, wide-int products — the
# squares pass 2^63).

_ALIGN_COS_NUM = 49  # cos^2 threshold 0.49 <=> cos 0.7
_ALIGN_COS_DEN = 100
_ALIGN_SCALE = 10_000


def _align_report_sql(fdiv: str, big: str) -> str:
    return f"""
        , scored AS (
            SELECT p.doc_a, p.doc_b,
                   d.dot, d.na, d.nb,
                   (d.dot >= 0 AND
                    CAST(d.dot AS {big}) * d.dot * {_ALIGN_COS_DEN}
                        >= CAST(d.na AS {big}) * d.nb * {_ALIGN_COS_NUM}
                   ) AS aligned
            FROM pairs p JOIN dots d
              ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b
        )
        SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs,
               CAST(sum(CASE WHEN aligned THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_aligned,
               CAST(sum(CASE WHEN aligned THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_misaligned,
               CAST(sum(CASE WHEN aligned THEN 0 ELSE 1 END) * 1000
                    {fdiv} count(*) AS BIGINT) AS misaligned_permille
        FROM scored
    """


def _align_oracle_sql() -> str:
    from dynamodb_stream_processor_2_0_spark.operators import dedup

    quant = (
        "list_transform({v}, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {_ALIGN_SCALE}.0) AS BIGINT))"
    )
    idot = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> p[1] * p[2])) AS BIGINT)"
    )
    return f"""
        WITH pairs AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()}) p
        ), q AS (
            SELECT vec_id, {quant.format(v='embedding')} AS qv
            FROM embeddings
        ), dots AS (
            SELECT p.doc_a, p.doc_b,
                   {idot.format(a='qa.qv', b='qb.qv')} AS dot,
                   {idot.format(a='qa.qv', b='qa.qv')} AS na,
                   {idot.format(a='qb.qv', b='qb.qv')} AS nb
            FROM pairs p
            JOIN q qa ON qa.vec_id = p.doc_a
            JOIN q qb ON qb.vec_id = p.doc_b
        )
        {_align_report_sql('//', 'HUGEINT')}
    """


@register(
    "quality_text_embedding_alignment",
    oracle=_align_oracle_sql(),
    tags=("similarity", "multimodal", "quality", "llm"),
    doc="Cross-modal consistency audit for the aligned text+vector "
    "corpus (vec_id = doc_id): every MinHash-LSH near-duplicate TEXT "
    "pair is checked for EMBEDDING agreement at cosine >= 0.7 — "
    "lexical-dup pairs whose vectors disagree are the signature of "
    "stale, version-skewed, or row-misaligned embeddings, the silent "
    "corruption a text+vector training pipeline must catch before "
    "training on the pair (and before trusting semantic dedup to "
    "stand in for lexical dedup). Reuses the production candidate "
    "generator; per-pair integer dots on the round(x*1e4) grid; the "
    "cosine threshold is cleared of sqrt/division by wide-int "
    "cross-multiplication (100*dot^2 >= 49*|a|^2*|b|^2). Plan: the "
    "banded LSH shuffle + two (vec_id = doc_id) equi-joins + one "
    "1-row rollup — candidate-pair-bounded, never all-pairs. On the "
    "driver corpus the audit reads 1000 permille misaligned — the "
    "CORRECT verdict, because the synthetic embeddings are drawn "
    "independently of the text; on a real corpus the number is the "
    "embedding-staleness rate.",
)
def quality_text_embedding_alignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.minhash_lsh_candidate_pairs(docs)
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            f" * {_ALIGN_SCALE}.0) AS BIGINT))"
        ).alias("qv"),
    )
    idot = (
        "CAST(aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L,"
        " (acc, v) -> acc + v) AS BIGINT)"
    )
    dots = (
        pairs.join(
            q.select(F.col("vec_id").alias("doc_a"), F.col("qv").alias("qa")),
            "doc_a",
        )
        .join(
            q.select(F.col("vec_id").alias("doc_b"), F.col("qv").alias("qb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(idot.format(a="qa", b="qb")).alias("dot"),
            F.expr(idot.format(a="qa", b="qa")).alias("na"),
            F.expr(idot.format(a="qb", b="qb")).alias("nb"),
        )
    )
    pairs.createOrReplaceTempView("align_pairs")
    dots.createOrReplaceTempView("align_dots")
    return spark.sql(
        "WITH pairs AS (SELECT * FROM align_pairs),"
        " dots AS (SELECT * FROM align_dots)"
        + _align_report_sql("div", "DECIMAL(38,0)")
    )


# --- embedding isotropy audit -------------------------------------------------
#
# Ethayarajh-style anisotropy WITHOUT a pair join: for unit-normalized
# vectors the mean pairwise cosine is ((||sum u||^2) - n) / (n(n-1)),
# so the all-pairs statistic collapses to per-dimension SUMS — one
# aggregation, order-free because every u_d is quantized to the 1e8
# grid per row (double normalization is per-row deterministic; the
# cross-row sums that would be float-order-dependent are exact BIGINT).
# An isotropic cloud scores ~0; contextual-embedding cones score high —
# the standard "is this embedding space usable for cosine retrieval"
# audit. Rides a per-dim variance rollup for the dominant-direction
# share (top_dim_var_share_permille ~ 1000/dims when isotropic).

_ISO_Q = 10**8

_ISO_ORACLE = f"""
    WITH normed AS (
        SELECT vec_id, embedding,
               sqrt(list_reduce(list_transform(list_zip(embedding,
                        embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                    (acc, v) -> acc + v)) AS norm
        FROM embeddings
    ), ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE)
                          / greatest(norm, 1e-30) * {_ISO_Q})
                    AS BIGINT) AS q
        FROM normed
    ), dims AS (
        SELECT dim,
               CAST(sum(q) AS HUGEINT) AS s,
               CAST(sum(q * q) AS HUGEINT) AS ss,
               CAST(count(*) AS BIGINT) AS n
        FROM ex GROUP BY dim
    ), nstat AS (
        SELECT max(n) AS n_vectors FROM dims
    ), vars AS (
        SELECT d.dim, d.s, d.ss,
               ns.n_vectors * d.ss - d.s * d.s AS var_d,
               ns.n_vectors
        FROM dims d CROSS JOIN nstat ns
    ), vtop AS (
        SELECT max(var_d) AS var_top FROM vars
    ), agg AS (
        SELECT max(v.n_vectors) AS n_vectors,
               CAST(count(*) AS BIGINT) AS n_dims,
               sum(v.s * v.s) AS q_big,
               sum(v.ss) AS r_big,
               vt.var_top,
               sum(v.var_d) AS var_tot,
               CAST(min(CASE WHEN v.var_d = vt.var_top
                        THEN v.dim END) AS BIGINT) AS dominant_dim
        FROM vars v CROSS JOIN vtop vt
        GROUP BY vt.var_top
    )
    SELECT n_vectors, n_dims,
           (CASE WHEN q_big - r_big >= 0 THEN 1 ELSE -1 END)
               * CAST(abs(q_big - r_big) * 1000000
                      // (CAST(n_vectors AS HUGEINT) * (n_vectors - 1)
                          * {_ISO_Q} * {_ISO_Q}) AS BIGINT)
               AS mean_pairwise_cos_micro,
           CASE WHEN var_tot = 0 THEN CAST(1000 AS BIGINT)
                ELSE CAST(1000 * var_top // var_tot AS BIGINT)
           END AS top_dim_var_share_permille,
           dominant_dim
    FROM agg
"""


@register(
    "embedding_isotropy_audit",
    oracle=_ISO_ORACLE,
    tags=("similarity", "llm", "stats", "scale"),
    doc="Embedding-space isotropy audit (Ethayarajh / Mu-Viswanath): "
    "mean pairwise cosine of the unit-normalized corpus computed "
    "WITHOUT any pair join via the sum-vector identity "
    "sum_{i<>j} <u_i,u_j> = ||sum u||^2 - n — the all-pairs statistic "
    "collapses to per-dimension exact sums, O(n*d) work and ONE "
    "aggregation where the naive form is O(n^2 d). Per-row double "
    "normalization is deterministic; every cross-row sum is an exact "
    "BIGINT on the 1e8 quantization grid, so both engines agree "
    "bit-for-bit and the plan has no float-summation-order hazard. "
    "High mean cosine = anisotropic cone (cosine retrieval degraded, "
    "consider centering); top_dim_var_share_permille ~ 1000/dims "
    "when isotropic, >> that when one rogue dimension dominates.",
)
def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.operators.similarity import (
        with_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ex = with_norm(emb).select(
        "vec_id",
        F.posexplode("embedding").alias("dim0", "v"),
        F.col("norm"),
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.expr(
            f"CAST(round(CAST(v AS DOUBLE)"
            f" / greatest(norm, 1e-30d) * {_ISO_Q}) AS BIGINT)"
        ).alias("q"),
    )
    dims = ex.groupBy("dim").agg(
        F.expr("CAST(sum(q) AS DECIMAL(38,0))").alias("s"),
        F.expr("CAST(sum(q * q) AS DECIMAL(38,0))").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    nstat = dims.agg(F.max("n").alias("n_vectors"))
    vars_ = dims.crossJoin(F.broadcast(nstat)).select(
        "dim",
        "s",
        "ss",
        "n_vectors",
        F.expr("n_vectors * ss - s * s").alias("var_d"),
    )
    vtop = vars_.agg(F.max("var_d").alias("var_top"))
    agg = (
        vars_.crossJoin(F.broadcast(vtop))
        .groupBy("var_top")
        .agg(
            F.max("n_vectors").alias("n_vectors"),
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.sum(F.expr("s * s")).alias("q_big"),
            F.sum("ss").alias("r_big"),
            F.sum("var_d").alias("var_tot"),
            F.expr(
                "CAST(min(CASE WHEN var_d = var_top THEN dim END)"
                " AS BIGINT)"
            ).alias("dominant_dim"),
        )
    )
    return agg.select(
        "n_vectors",
        "n_dims",
        F.expr(
            f"(CASE WHEN q_big - r_big >= 0 THEN 1 ELSE -1 END)"
            f" * CAST(abs(q_big - r_big) * 1000000"
            f" div (CAST(n_vectors AS DECIMAL(38,0)) * (n_vectors - 1)"
            f"      * {_ISO_Q} * cast({_ISO_Q} as DECIMAL(38,0))) AS BIGINT)"
        ).alias("mean_pairwise_cos_micro"),
        F.expr(
            "CASE WHEN var_tot = 0 THEN CAST(1000 AS BIGINT)"
            " ELSE CAST(1000 * var_top div var_tot AS BIGINT) END"
        ).alias("top_dim_var_share_permille"),
        "dominant_dim",
    )


# --- Gonzalez k-center coreset selection --------------------------------------
#
# Greedy farthest-point traversal (Gonzalez 1985): seed with the
# lowest vec_id, then k-1 times add the point FARTHEST from the chosen
# set — a 2-approximation of the optimal k-center cover, and the
# standard diversity-first coreset selector for data curation
# (pick the k most mutually-distant exemplars, then route the corpus
# to them). Each round is one broadcast of the <=k chosen vectors
# against the corpus (min squared distance per point, exact on the
# 1e6 grid — per-row double fold, cross-row only MIN/MAX, no
# float-sum-order hazard), one TakeOrderedAndProject argmax, and a
# single-row driver collect — k-1 bounded collects total, the same
# bounded-iteration pattern as the k-means and BPE training ops. The
# selection distances are non-increasing BY CONSTRUCTION (each new
# center can only shrink min-distances) — the behavior test's axiom.

_KCENTER_K = 4

_KC_D2Q = (
    "CAST(round(list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
    "(acc, v) -> acc + v) * 1000000) AS BIGINT)"
)


def _kcenter_oracle() -> str:
    d2 = _KC_D2Q.format(a="e.embedding", b="c.embedding")
    ctes = [
        "cents1 AS (SELECT vec_id, embedding FROM embeddings"
        " ORDER BY vec_id LIMIT 1)"
    ]
    rows = ["SELECT 1 AS iteration, (SELECT vec_id FROM cents1)"
            " AS center_vec_id, CAST(NULL AS BIGINT) AS chosen_dist_micro"]
    for i in range(2, _KCENTER_K + 1):
        p = i - 1
        ctes.append(
            f"mind{p} AS (SELECT e.vec_id, min({d2}) AS dq"
            f" FROM embeddings e CROSS JOIN cents{p} c"
            f" GROUP BY e.vec_id)"
        )
        ctes.append(
            f"pick{i} AS (SELECT vec_id, dq FROM mind{p}"
            f" ORDER BY dq DESC, vec_id ASC LIMIT 1)"
        )
        ctes.append(
            f"cents{i} AS (SELECT * FROM cents{p} UNION ALL"
            f" SELECT vec_id, embedding FROM embeddings"
            f" WHERE vec_id = (SELECT vec_id FROM pick{i}))"
        )
        rows.append(
            f"SELECT {i}, (SELECT vec_id FROM pick{i}),"
            f" (SELECT dq FROM pick{i})"
        )
    ctes.append(
        f"mindk AS (SELECT e.vec_id, min({d2}) AS dq"
        f" FROM embeddings e CROSS JOIN cents{_KCENTER_K} c GROUP BY e.vec_id)"
    )
    ctes.append("finalr AS (SELECT max(dq) AS fr FROM mindk)")
    u = "\n            UNION ALL\n            ".join(rows)
    return f"""
        WITH {", ".join(ctes)}
        SELECT r.iteration, r.center_vec_id, r.chosen_dist_micro,
               f.fr AS final_radius_micro
        FROM ({u}) r(iteration, center_vec_id, chosen_dist_micro)
        CROSS JOIN finalr f
        ORDER BY r.iteration
    """


@register(
    "embedding_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("similarity", "llm", "sample", "scale"),
    doc="Gonzalez greedy k-center coreset (k=4): seed at the lowest "
    "vec_id, then repeatedly add the corpus point FARTHEST from the "
    "chosen set — the classic 2-approximation of optimal k-center "
    "and the diversity-first exemplar selector for data curation "
    "(cf. embedding_mmr_diverse_topk, which diversifies a RANKED "
    "shortlist; this covers the whole space). Distances are exact "
    "BIGINTs on the 1e6 grid from per-row double folds; cross-row "
    "ops are only MIN/MAX, so there is no float-summation-order "
    "hazard and both engines agree bit-for-bit. k-1 rounds of "
    "broadcast(<=k centers) x corpus scoring + one argmax "
    "TakeOrderedAndProject + a 1-row bounded driver collect per "
    "round (the k-means/BPE training-loop pattern). Output: the "
    "selection trace (non-increasing chosen distances — the "
    "Gonzalez axiom) and the final covering radius.",
)
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    d2q = (
        "CAST(round(aggregate(zip_with(embedding, c_embedding,"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) * 1000000)"
        " AS BIGINT)"
    )
    seed_rows = emb.orderBy("vec_id").limit(1).collect()
    if not seed_rows:
        # empty corpus: no coreset, not an IndexError on the seed pick
        return spark.createDataFrame(
            [],
            "iteration int, center_vec_id long, chosen_dist_micro long,"
            " final_radius_micro long",
        )
    centers = [(1, seed_rows[0]["vec_id"], None)]
    cents_df = emb.filter(F.col("vec_id") == centers[0][1])

    def min_dist(cdf):
        c = F.broadcast(
            cdf.select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_embedding"),
            )
        )
        return (
            emb.crossJoin(c)
            .select("vec_id", F.expr(d2q).alias("dq"))
            .groupBy("vec_id")
            .agg(F.min("dq").alias("dq"))
        )

    for i in range(2, _KCENTER_K + 1):
        pick = (
            min_dist(cents_df)
            .orderBy(F.col("dq").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        centers.append((i, pick["vec_id"], pick["dq"]))
        cents_df = cents_df.unionByName(
            emb.filter(F.col("vec_id") == pick["vec_id"])
        )
    final_r = (
        min_dist(cents_df).agg(F.max("dq").alias("fr")).collect()[0]["fr"]
    )
    return spark.createDataFrame(
        [(i, cid, d, final_r) for (i, cid, d) in centers],
        "iteration int, center_vec_id long, chosen_dist_micro long,"
        " final_radius_micro long",
    ).orderBy("iteration")


# --- kNN-distance out-of-distribution detector ----------------------------------
#
# The data-curation OOD filter (Sun et al.: the distance to the k-th
# nearest neighbor is a remarkably strong OOD score): for each of 256
# deterministic md5-ordered probes, the squared distance to its 5th
# nearest OTHER vector on the exact 1e6 grid, flagged against the
# probe population's own upper fence (Q3 + 1.5*IQR of the exact
# integer scores — Tukey, division-free via 4*rank cross-products).
# In a training pipeline this is the "drop the weird embeddings"
# pass; the probe cap bounds the brute-force arm exactly like the
# kNN label probe (O(probes * n), linear in corpus size).

_OOD_K = 5
_OOD_PROBES = 256


def _ood_oracle() -> str:
    d2 = (
        "CAST(round(list_reduce(list_transform(list_zip(q.embedding,"
        " c.embedding), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS"
        " DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),"
        " (acc, v) -> acc + v) * 1000000) AS BIGINT)"
    )
    return f"""
        WITH probes AS (
            SELECT vec_id, embedding FROM embeddings
            ORDER BY md5('ood:' || CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_OOD_PROBES}
        ), scored AS (
            SELECT q.vec_id, {d2} AS dq,
                   c.vec_id AS cand_id
            FROM probes q JOIN embeddings c
              ON c.vec_id <> q.vec_id
        ), kth AS (
            SELECT vec_id, dq AS knn_dist_micro
            FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                              ORDER BY dq ASC, cand_id) AS rn
                FROM scored
            ) WHERE rn = {_OOD_K}
        ), ranked AS (
            SELECT vec_id, knn_dist_micro,
                   row_number() OVER (ORDER BY knn_dist_micro, vec_id)
                       AS r,
                   count(*) OVER () AS n
            FROM kth
        ), fences AS (
            SELECT min(CASE WHEN 4 * r >= n THEN knn_dist_micro END)
                       AS q1,
                   min(CASE WHEN 4 * r >= 3 * n
                            THEN knn_dist_micro END) AS q3
            FROM ranked
        )
        SELECT r.vec_id, r.knn_dist_micro,
               f.q1 AS q1_micro, f.q3 AS q3_micro,
               2 * r.knn_dist_micro
                   > 2 * f.q3 + 3 * (f.q3 - f.q1) AS is_outlier
        FROM ranked r CROSS JOIN fences f
        ORDER BY r.knn_dist_micro DESC, r.vec_id
        LIMIT 25
    """


@register(
    "embedding_ood_knn_distance",
    oracle=_ood_oracle(),
    tags=("similarity", "llm", "quality", "eval"),
    doc="kNN-distance OOD detection (Sun et al.): each of 256 "
    "deterministic md5-ordered probes scores the exact squared "
    "distance to its 5th nearest other vector (1e6 grid, per-row "
    "double fold, cross-row MIN/rank only), and outliers are flagged "
    "against the probe population's own Tukey upper fence computed "
    "DIVISION-FREE (quartiles via 4*rank cross-products; the fence "
    "test 2*d > 2*Q3 + 3*IQR clears the 1.5 factor) — the 'drop the "
    "weird embeddings' pass of a curation pipeline. The probe cap "
    "bounds the brute-force arm at O(probes * n), linear in corpus "
    "size (the kNN label probe's pattern); the quartile rank runs "
    "over the 256-row probe relation, never the corpus. The scoring "
    "rides the r12 split-fold fast path (operators/similarity."
    "with_pair_fold): width-64 rows take a codegen'd unrolled fold "
    "bit-identical to the HOF, ragged/NULL rows keep the HOF arm — "
    "7.7 -> 3.0 s at sf0.1. Top-25 most-distant probes reported.",
)
def embedding_ood_knn_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    probes = (
        emb.orderBy(
            F.expr("md5(concat('ood:', CAST(vec_id AS STRING)))"),
            "vec_id",
        )
        .limit(_OOD_PROBES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )
    )
    scored = S.with_pair_fold(
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("q_id")),
        "q_vec",
        "embedding",
        "_d2",
        kind="sqdist",
    ).select(
        F.col("q_id").alias("vec_id"),
        F.expr("CAST(round(_d2 * 1000000) AS BIGINT)").alias("dq"),
        F.col("vec_id").alias("cand_id"),
    )
    wq = W.partitionBy("vec_id").orderBy(
        F.col("dq").asc(), F.col("cand_id").asc()
    )
    kth = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == _OOD_K)
        .select("vec_id", F.col("dq").alias("knn_dist_micro"))
    )
    # quartile rank over the <=256-row probe relation via the
    # broadcast triangular join (no single-partition window)
    other = F.broadcast(
        kth.select(
            F.col("vec_id").alias("o_id"),
            F.col("knn_dist_micro").alias("o_d"),
        )
    )
    ranked = (
        kth.join(
            other,
            (F.col("o_d") < F.col("knn_dist_micro"))
            | (
                (F.col("o_d") == F.col("knn_dist_micro"))
                & (F.col("o_id") < F.col("vec_id"))
            ),
            "left",
        )
        .groupBy("vec_id", "knn_dist_micro")
        .agg((F.count("o_id") + 1).cast("long").alias("r"))
    )
    n_tot = F.broadcast(
        ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rn = ranked.crossJoin(n_tot)
    fences = F.broadcast(
        rn.agg(
            F.expr(
                "min(CASE WHEN 4 * r >= n THEN knn_dist_micro END)"
            ).alias("q1"),
            F.expr(
                "min(CASE WHEN 4 * r >= 3 * n THEN knn_dist_micro END)"
            ).alias("q3"),
        )
    )
    return (
        rn.crossJoin(fences)
        .select(
            "vec_id",
            "knn_dist_micro",
            F.col("q1").alias("q1_micro"),
            F.col("q3").alias("q3_micro"),
            F.expr(
                "2 * knn_dist_micro > 2 * q3 + 3 * (q3 - q1)"
            ).alias("is_outlier"),
        )
        .orderBy(F.col("knn_dist_micro").desc(), "vec_id")
        .limit(25)
    )
