"""Embedding similarity search (LLM-pipeline extension; SURVEY.md §2.7
"engine surface to build").

Two paths:

- ``cosine_topk``: exact brute-force — broadcast the (small) query set,
  score every candidate with a JVM-side ordered fold, rank per query.
  The baseline and the verifier for the approximate path.
- ``lsh_bucket_topk``: random-hyperplane (sign) LSH — each vector gets
  a b-bit bucket code; queries only score candidates in the same
  bucket. The scale path: at 100 TB the bucket join prunes the
  candidate set by ~2^b before any floating-point work happens.

Determinism contract: dot products are left folds over the dimension
axis in double precision (`F.aggregate` — sequential, not tree-reduced),
so the same bytes always produce the same score — bit-identical to the
DuckDB oracle's `list_reduce` fold, which permits exact differential
testing of float results (no tolerance).

Hyperplanes are pseudo-random ±1 vectors derived from md5(plane:dim) —
reproducible across engines/languages (hashlib here, md5() in any SQL
engine) instead of an RNG seed tied to one library.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def hyperplane_signs(num_planes: int, dim: int) -> list[list[float]]:
    """±1.0 hyperplane matrix from md5(plane:dim) parity — deterministic
    public derivation, identical in any engine with md5."""
    return [
        [
            1.0 if hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0] in "13579bdf" else -1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def _dot_fold(a: str, b: str) -> F.Column:
    """Ordered double-precision fold: ((0 + a0*b0) + a1*b1) + ..."""
    return F.expr(_fold_hof_sql("dot", a, b))


# --- fast-path pairwise folds (r12) -----------------------------------------
# Spark evaluates higher-order functions (zip_with/aggregate) on the
# INTERPRETED expression path (CodegenFallback): every element pays a
# lambda dispatch and the zipped intermediate array is allocated per
# pair. On the pairwise scoring relations (candidates x queries) that
# interpreter loop IS the query cost: the OOD probe's 512k sf0.1 pairs
# measured 4-6 s via the HOF vs 0.06 s steady for the SAME IEEE
# operation sequence unrolled into a codegen'd expression tree (~80x).
# The fold cannot simply be guarded with CASE WHEN size()=dim — a
# conditional carrying a branch that big defeats whole-stage codegen
# (measured 17 s, worse than the HOF) — so the split is at the
# DATAFRAME level: rows whose two vectors BOTH have the expected width
# take the unrolled arm; every other row (NULL array, ragged, short)
# flows through the HOF arm, preserving zip_with's pad-with-NULL
# semantics exactly. The union of the arms is bit-identical to the HOF
# alone: the unrolled tree is the same left fold ((0.0 + t0) + t1) ...
# in the same IEEE order (adversarial-vector pin incl. -0.0/NaN/Inf/
# NULL elements in tests/test_round12_hardening.py). 64 is the
# embeddings corpus width; rows of any other width stay correct via
# the HOF arm, so the constant is a fast-path hint, not a schema
# assumption.
#
# Each unrolled term is wrapped in an exact identity that REPEATS the
# term — nanvl(t, t) for doubles, coalesce(t, t) for integers — so
# subexpression elimination hoists every term into its own generated
# sub-method. Without the repeat, the 64-term chain codegens into one
# method past HotSpot's huge-method JIT limit and executes
# BYTECODE-INTERPRETED: the dot kind measured 9-12 s per run vs ~1 s
# with the hoist (sqdist was naturally fast only because its repeated
# (a[j]-b[j]) subterm already triggered the hoist). Both wrappers are
# bit-exact identities for every input (NULL -> NULL, NaN -> NaN via
# nanvl's second arg being the same value, -0.0 -> -0.0); if CSE is
# disabled the terms evaluate twice — slower, never wrong.
#
# DEPLOYMENT RULE (measured r12): use this ONLY on bulk pairwise
# relations — the brute-force probe scorers whose pair count is
# O(corpus x probes) (ood: 512k pairs 7.7 -> 3.8 s; knn-label: 819k
# pairs 5.5 -> 2.4 s at sf0.1). For the small-pair scorers (the
# 8-query topk operators, MMR shortlists, k-center's <=4 centers) the
# HOF was never the bottleneck and the split's extra plan branches +
# unrolled-tree compile REGRESS them (measured: kcenter 1.4 -> 3.3 s,
# rrf 0.7 -> 1.7 s) — those keep the plain fold.
_FAST_DIM = 64

_FOLD_KINDS = {
    # kind: (HOF lambda body, unrolled term template, init literal,
    #        hoist-forcing identity wrapper)
    "dot": (
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)",
        "(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE))",
        "CAST(0.0 AS DOUBLE)",
        "nanvl({t}, {t})",
    ),
    "sqdist": (
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))",
        "((CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE))"
        " * (CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE)))",
        "CAST(0.0 AS DOUBLE)",
        "nanvl({t}, {t})",
    ),
    "int_dot": (
        "CAST(x AS BIGINT) * y",
        "(CAST({x} AS BIGINT) * {y})",
        "CAST(0 AS BIGINT)",
        "coalesce({t}, {t})",
    ),
}


def _fold_hof_sql(kind: str, a: str, b: str) -> str:
    body, _, init, _ = _FOLD_KINDS[kind]
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {body}), "
        f"{init}, (acc, v) -> acc + v)"
    )


def _fold_unrolled_sql(kind: str, a: str, b: str, dim: int) -> str:
    _, term, init, wrap = _FOLD_KINDS[kind]
    terms = " + ".join(
        wrap.format(t=term.format(x=f"{a}[{j}]", y=f"{b}[{j}]"))
        for j in range(dim)
    )
    return f"({init} + {terms})"


def with_pair_folds(
    joined: DataFrame,
    specs: list[tuple[str, str, str, str]],
) -> DataFrame:
    """Append one column per (a, b, out, kind) spec — ONE split for all
    folds (chaining single-fold splits doubles the plan per call: 2^n
    subtrees each re-running the upstream joins). A row takes the fast
    arm only when EVERY involved array has width ``_FAST_DIM``; otherwise all
    its folds run on the HOF arm, which is correct for any width."""
    cols = sorted({c for (a, b, _o, _k) in specs for c in (a, b)})
    ok = F.lit(True)
    for c in cols:
        ok = ok & (F.size(F.col(c)) == _FAST_DIM)
    fast = joined.filter(ok)
    slow = joined.filter(~ok.eqNullSafe(F.lit(True)))
    for a, b, out, kind in specs:
        fast = fast.withColumn(out, F.expr(_fold_unrolled_sql(kind, a, b, _FAST_DIM)))
        slow = slow.withColumn(out, F.expr(_fold_hof_sql(kind, a, b)))
    return fast.unionByName(slow)


def with_pair_fold(
    joined: DataFrame,
    a: str,
    b: str,
    out: str,
    kind: str = "dot",
) -> DataFrame:
    """Append ``out`` = elementwise fold of columns ``a``/``b`` with the
    codegen fast path for width-``_FAST_DIM`` rows and the HOF arm for the
    rest. ``a``/``b`` must be plain column names on ``joined``."""
    return with_pair_folds(joined, [(a, b, out, kind)])


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.sqrt(_dot_fold(vec_col, vec_col)))


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self excluded).

    Plan shape: broadcast(queries) x candidates -> map-side scoring ->
    one shuffle on query_id for the per-query window rank. Candidates
    are never shuffled by content.
    """
    cand = with_norm(candidates, vec_col).select(
        F.col("vec_id").alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        F.col("norm").alias("cand_norm"),
    )
    qry = with_norm(queries, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col("norm").alias("query_norm"),
    )
    scored = (
        cand.join(F.broadcast(qry), F.col("cand_id") != F.col("query_id"))
        .withColumn(
            # try_divide: a zero-norm (or zero-length) vector has no
            # cosine — NULL (ranks last under DESC in both engines, the
            # oracle's x/0 is NULL too) instead of an ANSI div-by-zero
            # job kill (tools/hostile_sweep.py nulls world)
            "cosine",
            F.try_divide(
                _dot_fold("query_vec", "cand_vec"),
                F.col("query_norm") * F.col("cand_norm"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "cosine")
    )


def cosine_topk_oracle_sql(k: int, query_pred: str) -> str:
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    # list_reduce seeds with the first element; x == 0.0 + x in IEEE,
    # so this equals the engine's zero-seeded fold bit-for-bit.
    return f"""
        WITH normed AS (
            SELECT vec_id, embedding,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS norm
            FROM embeddings
        ), qry AS (
            SELECT vec_id AS query_id, embedding AS query_vec, norm AS query_norm
            FROM normed WHERE {query_pred}
        ), scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {dot.format(a="q.query_vec", b="c.embedding")}
                       / (q.query_norm * c.norm) AS cosine
            FROM qry q JOIN normed c ON c.vec_id <> q.query_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


def with_lsh_bucket(
    df: DataFrame,
    planes: list[list[float]],
    out_col: str = "bucket",
) -> DataFrame:
    """b-bit sign-LSH bucket code: bit p = [dot(vec, plane_p) > 0]."""
    code = F.lit(0).cast("bigint")
    for p, signs in enumerate(planes):
        arr = "array({})".format(", ".join(f"CAST({s} AS DOUBLE)" for s in signs))
        bit = (_dot_fold("embedding", arr) > 0).cast("bigint")
        code = code + bit * F.lit(2**p).cast("bigint")
    return df.withColumn(out_col, code)


def lsh_bucket_topk(
    candidates: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates. Recall is
    tunable via the number of planes (fewer bits -> bigger buckets ->
    higher recall, more work)."""
    cand = with_lsh_bucket(with_norm(candidates), planes).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cand_vec"),
        F.col("norm").alias("cand_norm"),
        "bucket",
    )
    qry = with_lsh_bucket(with_norm(queries), planes).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("norm").alias("query_norm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        cand.join(
            F.broadcast(qry),
            (F.col("bucket") == F.col("qbucket")) & (F.col("cand_id") != F.col("query_id")),
        )
        .withColumn(
            # try_divide: a zero-norm (or zero-length) vector has no
            # cosine — NULL (ranks last under DESC in both engines, the
            # oracle's x/0 is NULL too) instead of an ANSI div-by-zero
            # job kill (tools/hostile_sweep.py nulls world)
            "cosine",
            F.try_divide(
                _dot_fold("query_vec", "cand_vec"),
                F.col("query_norm") * F.col("cand_norm"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "cosine")
    )


def _dec_v(col: F.Column) -> F.Column:
    """float -> double -> decimal(12,10): |values| < 2 so 2 integer
    digits suffice; the double-first hop avoids Spark's float->decimal
    shortest-repr rounding (see embedding_label_centroids)."""
    return col.cast("double").cast("decimal(12,10)")


def ivf_probe_topk(emb: DataFrame, query_pred: F.Column, k: int = 5) -> DataFrame:
    """IVF (inverted-file) ANN probe: the coarse quantizer is the
    ``label`` partition (per-cell centroid = decimal-exact mean per
    dimension); each query is assigned to the cell with the highest
    exact inner product against the centroid (nProbe=1), then scored
    only against that cell's inverted list with the exact cosine.

    Scale shape: centroids are tiny (cells x dims) and broadcast; the
    inverted lists are the table itself partitioned by cell, so the
    probe reads ~1/n_cells of the data — the IVF contract. All
    reductions are decimal-exact (order-independent), so results are
    reproducible and oracle-checkable despite the shuffles.
    """
    longs = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    cent = longs.groupBy("label", "dim").agg(
        (
            F.sum(F.col("v").cast("double").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c_v")
    )
    ql = emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), F.posexplode("embedding").alias("dim", "qv")
    )
    ip = (
        ql.join(F.broadcast(cent), "dim")
        .groupBy("query_id", "label")
        .agg(F.sum(_dec_v(F.col("qv")) * F.col("c_v").cast("decimal(12,10)")).alias("ip"))
    )
    w_cell = Window.partitionBy("query_id").orderBy(F.desc("ip"), "label")
    assigned = (
        ip.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("probe_cell"))
    )
    qry = with_norm(emb.filter(query_pred)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("norm").alias("query_norm"),
    )
    cand = with_norm(emb).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label"),
        F.col("embedding").alias("cand_vec"),
        F.col("norm").alias("cand_norm"),
    )
    probes = F.broadcast(assigned.join(qry, "query_id"))
    scored = cand.join(
        probes,
        (F.col("label") == F.col("probe_cell")) & (F.col("cand_id") != F.col("query_id")),
    ).withColumn(
        "cosine",
        _dot_fold("query_vec", "cand_vec") / (F.col("query_norm") * F.col("cand_norm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "cosine")
    )


def ivf_probe_topk_oracle_sql(k: int, query_pred: str) -> str:
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
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
            FROM embeddings WHERE {query_pred}
        ), ip AS (
            SELECT query_id, label,
                   sum(CAST(CAST(qv AS DOUBLE) AS DECIMAL(12,10))
                       * CAST(c_v AS DECIMAL(12,10))) AS ip
            FROM ql JOIN cent USING (dim)
            GROUP BY query_id, label
        ), assigned AS (
            SELECT query_id, label AS probe_cell FROM (
                SELECT query_id, label,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY ip DESC, label) AS rn
                FROM ip
            ) WHERE rn = 1
        ), normed AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS norm
            FROM embeddings
        ), qn AS (
            SELECT vec_id AS query_id, embedding AS query_vec, norm AS query_norm
            FROM normed WHERE {query_pred}
        ), scored AS (
            SELECT a.query_id, c.vec_id AS neighbor_id,
                   {dot.format(a="q.query_vec", b="c.embedding")}
                       / (q.query_norm * c.norm) AS cosine
            FROM assigned a
            JOIN qn q USING (query_id)
            JOIN normed c ON c.label = a.probe_cell AND c.vec_id <> a.query_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


def near_dup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    band_size: int,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH:
    vectors sharing ANY band's bucket code become candidates (OR over
    bands boosts recall, the minhash-LSH banding trick applied to
    hyperplane codes); candidates are then verified with the exact
    cosine and kept when >= threshold.

    Scale shape: the self-join key is (band, code) — small ints — so
    the candidate-generation shuffle never moves vector payloads; only
    the (tiny) surviving pair list joins back to fetch vectors for
    verification. At 100 TB this is docs x n_bands rows of a few bytes
    vs the n^2 cross join it replaces.
    """
    n_bands = len(planes) // band_size
    # Codes-only projection for candidate generation and a norm-only
    # projection for verification: neither side recomputes the other's
    # folds (the two subtrees appear multiple times in the DAG).
    coded = df.select(F.col("vec_id"), F.col("embedding"))
    for b in range(n_bands):
        coded = with_lsh_bucket(
            coded, planes[b * band_size : (b + 1) * band_size], out_col=f"code{b}"
        )
    normed = with_norm(df.select(F.col("vec_id"), F.col("embedding")))
    bands_long = coded.select(
        F.col("vec_id"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"code{b}").alias("code"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select(F.col("vec_id"), F.col("bc.band").alias("band"), F.col("bc.code").alias("code"))
    cand = (
        bands_long.alias("a")
        .join(
            bands_long.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    va = normed.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        F.col("norm").alias("norm_a"),
    )
    vb = normed.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine", _dot_fold("vec_a", "vec_b") / (F.col("norm_a") * F.col("norm_b"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def near_dup_pairs_oracle_sql(
    planes: list[list[float]],
    band_size: int,
    threshold: float,
) -> str:
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    n_bands = len(planes) // band_size
    code_cols = []
    for b in range(n_bands):
        terms = []
        for p in range(band_size):
            signs = planes[b * band_size + p]
            arr = "[{}]".format(", ".join(f"CAST({s} AS DOUBLE)" for s in signs))
            terms.append(
                f"(CASE WHEN {dot.format(a='embedding', b=arr)} > 0 "
                f"THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
            )
        code_cols.append(" + ".join(terms) + f" AS code{b}")
    band_rows = ", ".join(f"({b}, code{b})" for b in range(n_bands))
    return f"""
        WITH coded AS (
            SELECT vec_id, embedding,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS norm,
                   {", ".join(code_cols)}
            FROM embeddings
        ), bands AS (
            SELECT vec_id, band, code
            FROM coded, LATERAL (VALUES {band_rows}) AS v(band, code)
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               {dot.format(a="va.embedding", b="vb.embedding")}
                   / (va.norm * vb.norm) AS cosine
        FROM cand
        JOIN coded va ON va.vec_id = id_a
        JOIN coded vb ON vb.vec_id = id_b
        WHERE {dot.format(a="va.embedding", b="vb.embedding")}
                  / (va.norm * vb.norm) >= {threshold}
    """


def lsh_bucket_topk_oracle_sql(
    planes: list[list[float]], k: int, query_pred: str
) -> str:
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    bucket_terms = []
    for p, signs in enumerate(planes):
        arr = "[{}]".format(", ".join(f"CAST({s} AS DOUBLE)" for s in signs))
        bucket_terms.append(
            f"(CASE WHEN {dot.format(a='embedding', b=arr)} > 0 "
            f"THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
        WITH coded AS (
            SELECT vec_id, embedding,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS norm,
                   {bucket} AS bucket
            FROM embeddings
        ), qry AS (
            SELECT vec_id AS query_id, embedding AS query_vec,
                   norm AS query_norm, bucket AS qbucket
            FROM coded WHERE {query_pred}
        ), scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {dot.format(a="q.query_vec", b="c.embedding")}
                       / (q.query_norm * c.norm) AS cosine
            FROM qry q JOIN coded c
              ON c.bucket = q.qbucket AND c.vec_id <> q.query_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


def lsh_multiprobe_topk(
    candidates: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
) -> DataFrame:
    """Multi-probe sign-LSH top-k: each query probes its own bucket AND
    every Hamming-distance-1 bucket (flip one of the b sign bits).

    Rationale: a near neighbor that lands on the wrong side of ONE
    hyperplane is lost to single-probe LSH — with b=6 planes that is
    the dominant failure mode (measured recall@5 ~0.05 on isotropic
    vectors). Probing the b adjacent buckets recovers exactly those
    one-bit misses for (b+1)x the candidate work, the standard
    recall/cost knob (Lv et al., multi-probe LSH) — and the SAME index:
    nothing is rebuilt, only the probe set widens.

    Plan shape: identical to lsh_bucket_topk except the broadcast query
    side explodes to (b+1) probe rows per query — the join stays a
    broadcast HASH join on bucket = probe (a candidate pairs at most
    once per query: its single bucket matches exactly one probe)."""
    b = len(planes)
    cand = with_lsh_bucket(with_norm(candidates), planes).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cand_vec"),
        F.col("norm").alias("cand_norm"),
        "bucket",
    )
    probes = F.array(
        F.col("qbucket"),
        *[F.expr(f"qbucket ^ {2 ** p}").cast("bigint") for p in range(b)],
    )
    qry = (
        with_lsh_bucket(with_norm(queries), planes)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("norm").alias("query_norm"),
            F.col("bucket").alias("qbucket"),
        )
        .select("query_id", "query_vec", "query_norm", F.explode(probes).alias("probe"))
    )
    scored = cand.join(
        F.broadcast(qry),
        (F.col("bucket") == F.col("probe")) & (F.col("cand_id") != F.col("query_id")),
    ).withColumn(
        "cosine",
        _dot_fold("query_vec", "cand_vec") / (F.col("query_norm") * F.col("cand_norm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "cosine")
    )


def lsh_multiprobe_topk_oracle_sql(
    planes: list[list[float]], k: int, query_pred: str
) -> str:
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    bucket_terms = []
    for p, signs in enumerate(planes):
        arr = "[{}]".format(", ".join(f"CAST({s} AS DOUBLE)" for s in signs))
        bucket_terms.append(
            f"(CASE WHEN {dot.format(a='embedding', b=arr)} > 0 "
            f"THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    probe_list = ", ".join(
        ["qbucket"] + [f"xor(qbucket, CAST({2**p} AS BIGINT))" for p in range(len(planes))]
    )
    return f"""
        WITH coded AS (
            SELECT vec_id, embedding,
                   sqrt({dot.format(a="embedding", b="embedding")}) AS norm,
                   {bucket} AS bucket
            FROM embeddings
        ), qry AS (
            SELECT query_id, query_vec, query_norm,
                   unnest([{probe_list}]) AS probe
            FROM (SELECT vec_id AS query_id, embedding AS query_vec,
                         norm AS query_norm, bucket AS qbucket
                  FROM coded WHERE {query_pred})
        ), scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {dot.format(a="q.query_vec", b="c.embedding")}
                       / (q.query_norm * c.norm) AS cosine
            FROM qry q JOIN coded c
              ON c.bucket = q.probe AND c.vec_id <> q.query_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


def with_int8_quant(df: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = round(x_i * 127 /
    max|x|).  4x smaller vectors and integer-only scoring downstream —
    the standard memory/bandwidth trade for billion-vector ANN.  The
    scale uses exact IEEE double widening of the float input, so the
    codes are engine-independent (integer outputs, no float compare at
    the gate)."""
    absmax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    df = df.withColumn("_qscale", F.lit(127.0) / F.greatest(absmax, F.lit(1e-30)))
    # Exchange barrier between the scale and the per-element transform:
    # CollapseProject would otherwise substitute the absmax fold INTO the
    # transform lambda, and lambda bodies get no subexpression
    # elimination in interpreted eval — an O(dim^2) re-scan per vector
    # (measured 3s -> 0.1s for 2k x 64 at sf0.1). The shuffle also
    # breaks the single-file-scan = single-task trap for the array work.
    df = df.repartition(F.col("vec_id") if "vec_id" in df.columns else F.spark_partition_id())
    return df.withColumn(
        "qvec",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.col("_qscale")).cast("int"),
        ),
    ).drop("_qscale")


def _int_dot(a: str, b: str) -> F.Column:
    """Exact integer dot product — order-independent, no float drift."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def int8_quantized_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k per query by int8-quantized dot product (self excluded).

    Same plan shape as cosine_topk (broadcast queries, map-side scoring,
    one shuffle for the per-query rank) but the score is integer
    arithmetic over 4x-compressed codes: at 100 TB of vectors this is
    the scan-side score for a rerank pipeline — shortlist on cheap int8
    dots, exact-rerank the shortlist (ann_recall_eval measures the same
    trade for LSH)."""
    cand = with_int8_quant(candidates).select(
        F.col("vec_id").alias("cand_id"), F.col("qvec").alias("cand_q")
    )
    qry = with_int8_quant(queries).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("query_q")
    )
    scored = cand.join(
        F.broadcast(qry), F.col("cand_id") != F.col("query_id")
    ).withColumn("qdot", _int_dot("query_q", "cand_q"))
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "qdot")
    )


def int8_quantized_topk_oracle_sql(k: int, query_pred: str) -> str:
    quant = (
        "list_transform({v}, x -> CAST(round(CAST(x AS DOUBLE) * "
        "(127.0 / greatest(list_max(list_transform({v}, "
        "y -> abs(CAST(y AS DOUBLE)))), 1e-30))) AS INTEGER))"
    )
    idot = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT)"
    )
    return f"""
        WITH coded AS (
            SELECT vec_id, {quant.format(v="embedding")} AS qvec
            FROM embeddings
        ), qry AS (
            SELECT vec_id AS query_id, qvec AS query_q
            FROM coded WHERE {query_pred}
        ), scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {idot.format(a="q.query_q", b="c.qvec")} AS qdot
            FROM qry q JOIN coded c ON c.vec_id <> q.query_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY qdot DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, qdot FROM ranked WHERE rank <= {k}
    """


def with_random_projection(df: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project onto
    len(planes) md5-derived +-1 directions (Achlioptas' database-
    friendly construction — the same public derivation as the LSH
    hyperplanes, so any engine reproduces the matrix). Each output
    coordinate is an ordered double fold -> bit-identical cross-engine.

    Scale shape: map-only; the projected table is dim/len(planes)x
    smaller, which is the point — downstream exact scoring (top-k,
    near-dup verify) reads 4x less and the projection itself never
    shuffles."""
    return df.withColumn(
        "pvec",
        F.array(
            *[
                _dot_fold(
                    "embedding",
                    "array({})".format(
                        ", ".join(f"CAST({s} AS DOUBLE)" for s in signs)
                    ),
                )
                for signs in planes
            ]
        ),
    )


def random_projection_recall_oracle_sql(
    planes: list[list[float]], k: int, query_pred: str
) -> str:
    """Recall@k of projected-space cosine top-k vs exact 64-dim top-k."""
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    proj_terms = ", ".join(
        dot.format(
            a="embedding",
            b="[{}]".format(", ".join(f"CAST({s} AS DOUBLE)" for s in signs)),
        )
        for signs in planes
    )
    return f"""
        WITH projected AS (
            SELECT vec_id, [{proj_terms}] AS pvec FROM embeddings
        ), pnormed AS (
            SELECT vec_id, pvec,
                   sqrt({dot.format(a="pvec", b="pvec")}) AS pnorm
            FROM projected
        ), pq AS (
            SELECT vec_id AS query_id, pvec AS qv, pnorm AS qn
            FROM pnormed WHERE {query_pred}
        ), pranked AS (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY pcos DESC, neighbor_id
                   ) AS rank
            FROM (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       {dot.format(a="q.qv", b="c.pvec")} / (q.qn * c.pnorm)
                           AS pcos
                FROM pq q JOIN pnormed c ON c.vec_id <> q.query_id
            )
        ), rp_r AS (
            SELECT query_id, neighbor_id FROM pranked WHERE rank <= {k}
        ), exact_r AS (
            {cosine_topk_oracle_sql(k=k, query_pred=query_pred)}
        )
        SELECT e.query_id,
               count(*) AS n_exact,
               count(r.neighbor_id) AS n_hit_rp,
               CAST(count(r.neighbor_id) AS DOUBLE) / count(*) AS recall_rp
        FROM exact_r e
        LEFT JOIN rp_r r
          ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """
