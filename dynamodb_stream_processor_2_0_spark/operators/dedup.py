"""Dedup operator family (SURVEY.md §2.4 + LLM-pipeline extensions).

Reference layers D1-D5 (index.js:107-244, 448-497, 572) are an
exactly-once guard over a keyed stream; the batch re-expressions here
generalize them into the dedup toolkit a training-data pipeline needs:

- exact dedup            (D5 dropDuplicates analog; hash-groupBy)
- first-occurrence-wins  (deterministic window rank, D5's keep-rule)
- state anti/semi probe  (D3 as a join against delivered state)
- MinHash + LSH banding  (fuzzy text dedup at scale)
- SimHash                (bitwise near-dup fingerprint)
- n-gram Jaccard         (exact pairwise verification of candidates)

Portability note: signature hashing uses ``md5`` (not xxhash64/murmur)
because the engine's differential oracle (DuckDB) computes the identical
hex string — signatures are therefore cross-engine reproducible, which
is also the property you want when a 100 TB dedup run spans engine
versions. Min-over-hex-string == min-over-uint128 lexicographically,
so `min(md5(...))` is a valid minhash.

Scale design: every stage is explode -> hash-partition groupBy, i.e.
linear in (docs x shingles) with map-side combine; the LSH band join
shuffles only (band, signature) pairs, never full documents, and the
candidate-pair output is orders of magnitude smaller than the n^2
cross join it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def tokens_col(text_col: str = "text") -> F.Column:
    """Whitespace tokenization — single-space split, identical to the
    oracle's string_split."""
    return F.split(F.col(text_col), " ")


def shingles_col(tokens: str = "toks", k: int = 3) -> F.Column:
    """Distinct k-token shingles from a tokens array column (empty when
    the document has fewer than k tokens). Takes a pre-computed tokens
    column so the split isn't re-evaluated per shingle."""
    parts = ", ".join(f"{tokens}[i + {j}]" for j in range(k))
    return F.expr(
        f"CASE WHEN size({tokens}) >= {k} "
        f"THEN array_distinct(transform(sequence(0, size({tokens}) - {k}), "
        f"i -> concat_ws(' ', {parts}))) ELSE array() END"
    )


def _shingles_sql(k: int) -> str:
    """DuckDB twin of shingles_col (1-based list indexing)."""
    parts = ", ' ', ".join(f"toks[i + {j + 1}]" for j in range(k))
    return (
        f"list_distinct(list_transform(range(greatest(len(toks) - {k - 1}, 0)), "
        f"i -> concat({parts})))"
    )


_MINHASH_P = 4294967311  # smallest prime > 2^32


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(v) = (a_i * v + b_i) mod p, derived from md5(i) so any engine
    can reproduce them. a in [1, 2^31), b in [0, 2^32): a * v + b <
    2^31 * 2^32 + 2^32 < 2^63, so 64-bit integer arithmetic is exact
    (no overflow) in both Spark (ANSI mode) and DuckDB."""
    import hashlib

    coeffs = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
        a = (int(d[:8], 16) >> 1) | 1  # 31-bit, odd, nonzero
        b = int(d[8:16], 16)
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(
    df: DataFrame,
    num_hashes: int,
    shingle_k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per doc with columns h0..h{n-1}: the universal-hash
    minhash min_i((a_i * v + b_i) mod p) over shingle values
    v = uint32(md5(shingle)[:8]). ONE md5 per (doc, shingle) — the
    num_hashes variants are integer multiply-mods, not re-hashes — then
    a single map-side-combinable groupBy."""
    exploded = df.withColumn("toks", tokens_col(text_col)).select(
        F.col(id_col), F.explode(shingles_col("toks", shingle_k)).alias("shingle")
    )
    v = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
    exploded = exploded.select(F.col(id_col), v.alias("v"))
    aggs = [
        F.min((F.lit(a) * F.col("v") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_band_signatures(
    df: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, band, sig) rows: one md5 band signature per document per
    band — the LSH index entries that candidate generation (batch) and
    arrival-time dedup (streaming state) both key on."""
    assert num_hashes % band_size == 0
    sigs = minhash_signatures(df, num_hashes, shingle_k, id_col, text_col)
    n_bands = num_hashes // band_size
    band_sig = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
            )
        ).alias(f"b{b}")
        for b in range(n_bands)
    ]
    banded = sigs.select(F.col(id_col), *band_sig)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("sig"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select(
        F.col(id_col), F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_bands_oracle_cte(
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_k: int = 3,
    table: str = "documents",
) -> str:
    """CTE chain (toks, sh, sigs, bands) ending in bands(doc_id, band,
    sig) — the SQL twin of minhash_band_signatures."""
    n_bands = num_hashes // band_size
    h_aggs = ",\n               ".join(
        f"min(({a} * v + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    )
    band_rows = ",\n               ".join(
        "({b}, md5(concat({cols})))".format(
            b=b,
            cols=", '|', ".join(f"h{b * band_size + j}" for j in range(band_size)),
        )
        for b in range(n_bands)
    )
    return f"""toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM {table}
        ), sh AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS v
            FROM (
                SELECT doc_id, unnest({_shingles_sql(shingle_k)}) AS shingle
                FROM toks
            )
        ), sigs AS (
            SELECT doc_id,
               {h_aggs}
            FROM sh GROUP BY doc_id
        ), bands AS (
            SELECT doc_id, band, sig
            FROM sigs, (VALUES {band_rows}) AS v(band, sig)
        )"""


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH banding: docs sharing any band signature become a candidate
    pair (doc_a < doc_b).

    Pair generation is ONE groupBy on (band, signature) with in-bucket
    pair expansion (sorted collect_list -> JVM-side transform/slice), not
    a bucket self-join: the self-join form evaluates the whole minhash
    signature pipeline twice (once per join side) and pays a second
    shuffle — measured 1.5x slower at sf0.1. Shuffle volume stays
    proportional to docs x bands (tiny rows), never documents' content.
    A degenerate bucket (many docs, one signature) would expand n^2
    pairs — at 100 TB cap bucket size upstream (drop buckets over ~10k
    docs: they're boilerplate shingles, not near-duplicates)."""
    bands_long = minhash_band_signatures(
        df, num_hashes, band_size, shingle_k, id_col, text_col
    )
    buckets = (
        bands_long.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # all (i < j) pairs within a bucket, entirely in whole-stage codegen
    pairs = F.explode(
        F.flatten(
            F.expr(
                "transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b)))"
            )
        )
    )
    return (
        buckets.select(pairs.alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_oracle_sql(
    num_hashes: int = 12, band_size: int = 2, shingle_k: int = 3
) -> str:
    return f"""
        WITH {minhash_bands_oracle_cte(num_hashes, band_size, shingle_k)}
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """


def simhash(
    df: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash fingerprint: per-token 32-bit hash (first 8 hex chars of
    md5, base-16 decoded), each bit votes +1/-1 weighted by token
    frequency; fingerprint bit b is the sign of the vote sum.

    One hash-partition aggregation with ``bits`` conditional-sum
    columns (the minhash h0..hN pattern): the (doc x token) stream is
    aggregated directly — no (doc x token x bit) row blowup — and the
    per-bit sums are map-side-combinable, so the shuffle carries one
    row of 32 longs per document per map partition at worst.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    toks = toks.withColumn(
        "tok_val", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    )
    vote_aggs = [
        F.sum(
            F.when(F.expr(f"(tok_val div {1 << b}) % 2 = 1"), F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*vote_aggs)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_oracle_sql(bits: int = 32) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), hashed AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(8), c ->
                       (strpos('0123456789abcdef', substr(md5(tok), c + 1, 1)) - 1)
                       * (16 ** (7 - c)))) AS BIGINT) AS tok_val
            FROM toks
        ), votes AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (tok_val // CAST(2 ** bit AS BIGINT)) % 2 = 1
                            THEN 1 ELSE -1 END) AS votes
            FROM hashed, (SELECT unnest(range({bits})) AS bit)
            GROUP BY doc_id, bit
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN votes > 0 THEN CAST(2 ** bit AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    """


def ngram_jaccard_pairs(
    df: DataFrame,
    shingle_k: int = 3,
    min_jaccard: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via an inverted-index join: only
    pairs sharing at least one shingle are ever generated (the classic
    candidate-verification step after LSH). Jaccard computed as one
    double division of exact integers — deterministic."""
    sh = df.withColumn("toks", tokens_col(text_col)).select(
        F.col(id_col), F.explode(shingles_col("toks", shingle_k)).alias("shingle")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def first_occurrence(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """D5 keep-rule: deterministic first-occurrence-per-key (the
    reference's 'first claim wins' CAS outcome, index.js:457-477)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 12,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """Cluster assignment for dedup: connected components of the
    candidate-pair graph. Every node ends up labeled with the smallest
    id reachable from it — the deterministic cluster representative
    ('keep the lowest doc_id, drop the rest'). Self-pairs carry no
    connectivity and are dropped, so a node appears only if it has an
    edge to another node.

    Two arms, one answer, split on the MEASURED directed edge count
    (the symmetric edge set is pinned first, so the count is one cheap
    job):

    - at or below ``small_graph_threshold``: one driver-side union-find
      (``_union_find_labels``). A candidate graph that survived LSH
      banding is usually broadcast-scale (58 directed edges at sf0.01,
      2,218 at sf0.1), and a single collect replaces several rounds of
      shuffles + checkpoints — the same move GraphFrames makes.
    - above it: alternating large-star / small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond"),
      O(log n) rounds even on long-chain graphs whose diameter is O(n)
      (CDC chunk adjacency, temporal follows). See ``_star_loop``.

    Both arms label every node with its min reachable id, so they are
    interchangeable; ``small_graph_threshold=0`` forces the distributed
    arm (the tests pin their agreement that way). The loop runs at the
    session's shuffle width, which AQE coalesces for small shuffles;
    no session conf is read or written here.
    """
    edges = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).filter(F.col("u") != F.col("v"))
    sym = _symmetric(edges).localCheckpoint(eager=True)
    if sym.count() <= small_graph_threshold:
        return _union_find_labels(pairs.sparkSession, sym)
    return _star_loop(sym, max_rounds)


def _union_find_labels(spark, sym: DataFrame) -> DataFrame:
    """Driver-side union-find over a (u, v) edge relation — the
    small-graph arm of ``connected_components``. The collect is the
    documented bounded-coordination read: the caller gates it on a
    measured edge count."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for row in sym.collect():
        u, v = row.u, row.v
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id keeps the representative the min so far
            lo, hi = min(ru, rv), max(ru, rv)
            parent[hi] = lo
    labels_local = [(n, find(n)) for n in parent]
    return spark.createDataFrame(labels_local, "doc_id long, cluster_id long")


def _symmetric(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _star_loop(sym: DataFrame, max_rounds: int) -> DataFrame:
    """The distributed arm of ``connected_components`` over a symmetric
    (u, v) edge relation: alternating large-star / small-star
    contraction. Both star ops only ever link nodes to the MINIMUM of a
    neighborhood, and the minimum node of a component is never linked
    upward, so the fixpoint is every component contracted to a star
    centered on its minimum id — the same labels the union-find arm
    returns.

    Per round: large-star (neighborhood-min rollup + one join) then
    small-star (same shape on the smaller-neighbor side) — 4 node-id
    shuffles; state is the current edge set, which only shrinks toward
    the star forest (distinct-ed each half-round to keep it tight).
    Convergence is detected from a 1-row (count, sum(u), sum(v))
    signature per round — a bounded driver action; rounds are
    localCheckpointed to truncate lineage, and the result is verified
    to be a star forest (raises otherwise). Deterministic: every
    operation is a min or a set union.
    """
    prev_sig = None
    for _ in range(max_rounds):
        # Large-star: every neighbor v > u links to m = min(N(u) + {u}).
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        symd = _symmetric(large).distinct()
        # Small-star: every neighbor v < u (and u itself) links to
        # m = min of the smaller-neighbor side.
        mins_s = (
            symd.filter(F.col("v") < F.col("u"))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        small = (
            symd.join(mins_s, "u")
            .filter(F.col("v") < F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins_s.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        sym = _symmetric(small).distinct().localCheckpoint(eager=True)
        sig = sym.agg(
            F.count(F.lit(1)), F.sum("u"), F.sum("v")
        ).collect()[0]
        sig = tuple(sig)
        if sig == prev_sig:
            break
        prev_sig = sig
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", F.col("u")).alias("m"))
        .localCheckpoint(eager=True)
    )
    # Fixpoint verification. The signature above is a heuristic: on a
    # symmetric edge set sum(u) == sum(v), so it degenerates to
    # (count, sum) and a collision could break the loop early; and
    # exhausting max_rounds would otherwise return non-converged (wrong)
    # labels silently. A converged star forest satisfies two local
    # conditions, each one bounded aggregate: (1) every smaller-neighbor
    # of u IS u's minimum m (no node retains two distinct smaller
    # neighbors), and (2) every label m is itself a root (m maps to m).
    # Together these hold iff sym is a star forest rooted at component
    # minima — the loop's postcondition.
    non_star = (
        sym.filter(F.col("v") < F.col("u"))
        .join(labels, "u")
        .filter(F.col("v") != F.col("m"))
        .count()
    )
    non_root = (
        labels.select(F.col("m").alias("u"))
        .distinct()
        .join(labels, "u")
        .filter(F.col("m") != F.col("u"))
        .count()
    )
    if non_star or non_root:
        raise RuntimeError(
            "star-contraction did not reach a star-forest fixpoint "
            f"within max_rounds={max_rounds} (or the convergence "
            f"signature collided): {non_star} non-star edges and "
            f"{non_root} non-root labels remain"
        )
    return labels.select(
        F.col("u").alias("doc_id"), F.col("m").alias("cluster_id")
    )


def count_min_estimates(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Deterministic Count-Min sketch: ``depth`` hash rows of ``width``
    counters, bucket_r(x) = uint32(md5(r ':' x)) % width. Returns every
    distinct item with its CMS estimate (min over rows) next to its
    true count — the overestimate property (est >= true) is part of the
    contract and is asserted by the oracle twin.

    Scale shape: ONE pass builds all depth x width counters as a
    groupBy on (row, bucket) — the sketch is ~depth*width longs total
    regardless of input size, which is why a 100 TB stream can keep it
    in memory per executor and merge by '+'. md5-derived buckets make
    the sketch bit-identical across engines and runs.
    """
    rows = []
    for r in range(depth):
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{r}:"), F.col(item_col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % width
        )
        rows.append(
            df.select(F.lit(r).alias("r"), bucket.alias("bucket"), F.col(item_col))
        )
    tagged = rows[0]
    for x in rows[1:]:
        tagged = tagged.unionByName(x)
    counters = tagged.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    item_buckets = tagged.select("r", "bucket", item_col).distinct()
    estimates = (
        item_buckets.join(counters, ["r", "bucket"])
        .groupBy(item_col)
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    truth = df.groupBy(item_col).agg(F.count(F.lit(1)).alias("true_count"))
    return estimates.join(truth, item_col)
