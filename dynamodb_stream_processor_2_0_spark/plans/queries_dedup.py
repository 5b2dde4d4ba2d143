"""Dedup + CDC queries (SURVEY.md §2.4 and the LLM-pipeline dedup
extensions over ``documents``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dynamodb_stream_processor_2_0_spark.operators import cdc, dedup
from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

# Exact-copy collapse gate of dedup_shingle_containment and
# dedup_prefix_filter_jaccard: byte-identical texts are collapsed before
# the inverted-index self-join once docs exceed this many per distinct
# text (the candidate-pair term is quadratic in the duplication factor).
_COLLAPSE_FACTOR = 1.05


@register(
    "d5_first_occurrence_dedup",
    oracle="""
        SELECT event_id, user_id, event_type, ts
        FROM (
            SELECT event_id, user_id, event_type, ts,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    tags=("D5", "D4"),
    doc="D5/D4 first-claim-wins dedup on the (user, type) key (index.js:457-477, 572).",
)
def d5_first_occurrence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return dedup.first_occurrence(df, ["user_id", "event_type"], ["ts", "event_id"]).select(
        "event_id", "user_id", "event_type", "ts"
    )


@register(
    "d2_cdc_old_new_diff",
    oracle="""
        WITH parsed AS (
            SELECT event_id, user_id, ts, value,
                   COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k
            FROM events
        ), imaged AS (
            SELECT event_id, user_id, ts, value, k,
                   lag(value) OVER w AS old_value,
                   lag(k) OVER w AS old_k,
                   CASE WHEN lag(ts) OVER w IS NULL THEN 'INSERT' ELSE 'MODIFY' END
                       AS change_kind
            FROM parsed
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_id, user_id, change_kind, k, old_k,
               value - old_value AS delta_value,
               COALESCE(k = 0 AND old_k > 0, FALSE) AS suppressed
        FROM imaged
    """,
    tags=("D2", "F5", "F6"),
    doc="D2 old/new image reconstruction via lag + F6 pool-expansion suppression (index.js:187-221).",
)
def d2_cdc_old_new_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events").withColumn(
        "k",
        F.coalesce(F.expr("try_cast(get_json_object(props, '$.k') AS int)"), F.lit(0)),
    )
    imaged = cdc.with_old_image(df, ["user_id"], ["ts", "event_id"], ["value", "k"])
    return imaged.select(
        "event_id",
        "user_id",
        "change_kind",
        "k",
        "old_k",
        (F.col("value") - F.col("old_value")).alias("delta_value"),
        cdc.pool_expansion_suppressed(F.col("k"), F.col("old_k")).alias("suppressed"),
    )


@register(
    "d3_state_lookup_routing",
    oracle="""
        WITH state AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        )
        SELECT e.event_id, e.user_id,
               CASE WHEN s.user_id IS NOT NULL THEN 'duplicate_prevented'
                    ELSE 'proceed' END AS action
        FROM events e
        LEFT JOIN state s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase'
    """,
    tags=("D3", "S2", "F11", "F12", "E4"),
    doc="D3 state lookup with tag-don't-drop routing; F11 in-progress keys and E4 fail-open degrade both collapse to the state probe (index.js:107-141, 136-140, 227-244, 429-431).",
)
def d3_state_lookup_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    state = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("s_user_id"))
        .distinct()
    )
    return (
        events.filter(F.col("event_type") == "purchase")
        .join(
            F.broadcast(state), F.col("user_id") == F.col("s_user_id"), "left"
        )
        .select(
            "event_id",
            "user_id",
            F.when(F.col("s_user_id").isNotNull(), "duplicate_prevented")
            .otherwise("proceed")
            .alias("action"),
        )
    )


@register(
    "dedup_exact_documents",
    oracle="""
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    tags=("dedup", "llm"),
    doc="Exact content dedup: hash-groupBy, deterministic representative.",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # group on md5(text) rather than raw text: at 100 TB the shuffle
    # carries 32-byte keys, not documents.
    df = load_table(spark, sf_dir, "documents").withColumn("fp", F.md5("text"))
    return (
        df.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


@register(
    "dedup_minhash_lsh",
    oracle=dedup.minhash_lsh_oracle_sql(num_hashes=12, band_size=2, shingle_k=3),
    tags=("dedup", "llm", "minhash"),
    doc="MinHash(12 hashes) + LSH(6 bands of 2) candidate pairs over 3-token shingles.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidate_pairs(
        df, num_hashes=12, band_size=2, shingle_k=3
    )


@register(
    "dedup_simhash",
    oracle=dedup.simhash_oracle_sql(bits=32),
    tags=("dedup", "llm", "simhash"),
    doc="32-bit SimHash fingerprint with frequency-weighted bit votes.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"), bits=32)


@register(
    "dedup_ngram_jaccard",
    oracle="""
        WITH sample_docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        ), toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM sample_docs
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(greatest(len(toks) - 2, 0)),
                       i -> concat(toks[i + 1], ' ', toks[i + 2], ' ', toks[i + 3]))))
                       AS shingle
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_inter,
               CAST(n_inter AS DOUBLE)
                   / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.01
    """,
    tags=("dedup", "llm", "jaccard"),
    doc="Exact n-gram Jaccard verification over an inverted-index join (10% sample).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.ngram_jaccard_pairs(df, shingle_k=3, min_jaccard=0.01)


# Shared by dedup_cluster_assign AND dedup_cluster_assign_star: both
# names run dedup.connected_components, whose union-find and star-loop
# arms label every node with its min reachable id — the recursive
# closure below computes exactly that labeling.
_RECURSIVE_CC_ORACLE = f"""
        WITH RECURSIVE edges AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()}) pairs
        ), sym AS (
            SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL
            SELECT doc_b, doc_a FROM edges
        ), reach(node, r) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
        )
        SELECT node AS doc_id, min(r) AS cluster_id
        FROM reach GROUP BY node
    """


@register(
    "dedup_cluster_assign",
    oracle=_RECURSIVE_CC_ORACLE,
    tags=("dedup", "llm", "iterative", "graph"),
    doc="Near-dup cluster assignment: connected components of the MinHash-LSH "
    "candidate graph, every doc labeled with its min reachable id "
    "(driver union-find at or below 1M directed edges, large-star/"
    "small-star contraction above); oracle is DuckDB's recursive "
    "transitive closure.",
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(docs)
    return dedup.connected_components(pairs)


@register(
    "dedup_cluster_assign_star",
    oracle=_RECURSIVE_CC_ORACLE,
    tags=("dedup", "llm", "iterative", "graph", "scale"),
    doc="The same connected-components operator as dedup_cluster_assign, "
    "registered under the name of its distributed arm: alternating "
    "large-star / small-star contraction (Kiveris et al.), O(log n) "
    "rounds even when component DIAMETER is large (long CDC chunk "
    "chains, temporal follows). Graphs at or below 1M directed edges "
    "take the driver union-find arm; both arms label every node with "
    "its min reachable id, so both names share one recursive-SQL oracle.",
)
def dedup_cluster_assign_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(docs)
    return dedup.connected_components(pairs)


@register(
    "sketch_count_min",
    oracle="""
        WITH items AS (
            SELECT CAST(user_id AS VARCHAR) AS item FROM events
        ), tagged AS (
            SELECT r, item,
                   CAST(concat('0x', substr(md5(concat(r, ':', item)), 1, 8))
                        AS BIGINT) % 64 AS bucket
            FROM items, (VALUES (0), (1), (2), (3)) AS d(r)
        ), counters AS (
            SELECT r, bucket, count(*) AS cnt FROM tagged GROUP BY 1, 2
        ), est AS (
            SELECT t.item, min(c.cnt) AS cms_estimate
            FROM (SELECT DISTINCT r, bucket, item FROM tagged) t
            JOIN counters c ON c.r = t.r AND c.bucket = t.bucket
            GROUP BY t.item
        )
        SELECT est.item AS user_id, est.cms_estimate, tr.true_count
        FROM est
        JOIN (SELECT CAST(user_id AS VARCHAR) AS item, count(*) AS true_count
              FROM events GROUP BY 1) tr
          ON tr.item = est.item
    """,
    tags=("dedup", "sketch", "llm", "scale"),
    doc="Deterministic Count-Min sketch (4x64, md5-derived buckets): per-item "
    "estimate (min over rows) next to the true count; fixed-size state "
    "regardless of cardinality, bit-identical across engines.",
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id")
    )
    return dedup.count_min_estimates(ev, "user_id", depth=4, width=64)


@register(
    "fuzzy_match_blocked_levenshtein",
    oracle="""
        WITH names AS (
            SELECT p_name, split_part(p_name, ' ', 2) AS noun,
                   count(*) AS n_parts
            FROM part GROUP BY p_name
        )
        SELECT a.noun AS block,
               a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
               a.n_parts AS n_a, b.n_parts AS n_b
        FROM names a
        JOIN names b
          ON a.noun = b.noun AND a.p_name < b.p_name
         AND levenshtein(a.p_name, b.p_name) <= 4
        ORDER BY block, name_a, name_b
    """,
    tags=("dedup", "fuzzy", "join", "llm", "D3"),
    doc="Entity-resolution fuzzy match: blocked Levenshtein pairing — "
    "dedupe to distinct keys first (64 names, not 2000 parts), block on "
    "a cheap deterministic key (the noun), compare only within blocks "
    "(152 surviving pairs vs 2k^2 naive), both engines sharing the same "
    "edit-distance metric. The record-linkage analog of the reference's "
    "dedup probe (index.js:107-141): candidate generation by blocking, "
    "verification by distance.",
)
def fuzzy_match_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the pair space is sum over blocks of |block|^2 on
    DISTINCT values — blocking key choice, not corpus size, bounds it.
    The distinct-name fold is one map-side-combinable shuffle; the
    within-block join shuffles only (name, noun, count) rows."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("noun", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)))
    )
    a = names.select(
        F.col("noun").alias("block"),
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
    )
    b = names.select(
        F.col("noun").alias("block"),
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
    )
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("edit_dist") <= 4)
        .select("block", "name_a", "name_b", "edit_dist", "n_a", "n_b")
        .orderBy("block", "name_a", "name_b")
    )


@register(
    "graph_triangle_enumerate",
    oracle=f"""
        WITH e AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()})
        )
        SELECT e1.doc_a AS doc_x, e1.doc_b AS doc_y, e2.doc_b AS doc_z
        FROM e e1
        JOIN e e2 ON e2.doc_a = e1.doc_b
        JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ORDER BY doc_x, doc_y, doc_z
    """,
    tags=("dedup", "graph", "join", "llm", "scale"),
    doc="Triangle enumeration over the MinHash-LSH candidate-pair graph "
    "(edges kept as doc_a < doc_b, so each triangle x<y<z appears "
    "exactly once): dense near-dup cliques betray template/boilerplate "
    "families that pairwise dedup underestimates. Two self-joins on the "
    "(already small) surviving edge list — the standard compact-forward "
    "enumeration; at larger edge counts the join order pivots on vertex "
    "degree, which Catalyst handles once edge stats exist.",
)
def graph_triangle_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the three self-join arms share one edge subtree; Catalyst reuses
    # the exchange (ReusedExchange), so the signature pipeline runs once
    # without any explicit materialization (checkpointing it measured
    # SLOWER: eager exec + re-read beat exchange reuse by ~0.8 s)
    e = dedup.minhash_lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    return (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("doc_x"),
            F.col("e1.doc_b").alias("doc_y"),
            F.col("e2.doc_b").alias("doc_z"),
        )
        .orderBy("doc_x", "doc_y", "doc_z")
    )


@register(
    "dedup_shingle_containment",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(toks) - 2),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                       AS shingle
            FROM toks
            WHERE len(toks) >= 3
        ), sizes AS (
            SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_inter,
               CAST(n_inter AS DOUBLE) / sa.n_distinct AS containment_a,
               CAST(n_inter AS DOUBLE) / sb.n_distinct AS containment_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE greatest(CAST(n_inter AS DOUBLE) / sa.n_distinct,
                       CAST(n_inter AS DOUBLE) / sb.n_distinct) >= 0.5
        ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "containment", "llm", "join"),
    doc="Asymmetric containment dedup: |A intersect B| / |A| over DISTINCT "
    "3-gram shingles catches near-SUBSET documents (a doc quoted inside "
    "a longer one) that symmetric Jaccard scores low. Same "
    "inverted-index join shape as ngram_jaccard — only pairs sharing a "
    "shingle are generated; the distinct-shingle dedup happens BEFORE "
    "the self-join, shrinking the exploded stream. Byte-identical "
    "documents are collapsed to one representative text BEFORE the "
    "join and member pairs reconstructed afterwards: candidate-pair "
    "count in the inverted index is quadratic in the duplication "
    "factor (10 exact copies of a corpus = ~100x the posting-list "
    "pairs — measured 12.6x wall in the 10x experiment pre-collapse), "
    "and the collapse makes that term linear while the emitted result "
    "is provably identical (containment depends only on text). The "
    "collapse engages only when the MEASURED duplication factor "
    "exceeds 1.05 (docs per distinct text) — "
    "on a near-dup-free corpus the direct inverted index is cheaper "
    "than collapse+expand, the same measured-size gating the chain "
    "walk and connected components use. At 100 TB the shingle key "
    "becomes xxhash64 so the shuffle carries 8-byte ints.",
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def shingle_pairs(source: DataFrame, key: str):
        """Qualified containment pairs (key_a, key_b, n_inter, na, nb)
        over the inverted shingle index of `source` (one row per key,
        with a text column). sub-3-token docs are excluded BEFORE
        sequence(): Spark's sequence auto-descends when start > stop
        (DuckDB returns empty) and with an explicit unit step it throws
        — the filter makes both unreachable."""
        sh = (
            source.withColumn("toks", F.split("text", " "))
            .filter(F.size("toks") >= 3)
            .select(
                key,
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("toks", i),
                            F.element_at("toks", i + 1),
                            F.element_at("toks", i + 2),
                        ),
                    )
                ).alias("shingle"),
            )
            .distinct()
        )
        sizes = sh.groupBy(key).agg(F.count(F.lit(1)).alias("n_distinct"))
        a = sh.select(F.col(key).alias("key_a"), "shingle")
        b = sh.select(F.col(key).alias("key_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("key_a") < F.col("key_b"))
            .groupBy("key_a", "key_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(F.col(key).alias("key_a"), F.col("n_distinct").alias("na"))
        sb = sizes.select(F.col(key).alias("key_b"), F.col("n_distinct").alias("nb"))
        qual = (
            inter.join(sa, "key_a")
            .join(sb, "key_b")
            .filter(
                F.greatest(
                    F.col("n_inter") / F.col("na"),
                    F.col("n_inter") / F.col("nb"),
                )
                >= 0.5
            )
        )
        return qual, sizes

    # Measured duplication gate: one count + one hash-distinct agg. The
    # candidate-pair term is quadratic in this factor, so past the
    # threshold the collapse pays for itself immediately.
    n_docs = docs.count()
    n_texts = docs.agg(F.countDistinct(F.md5("text")).alias("n")).first()["n"]
    if n_docs <= _COLLAPSE_FACTOR * n_texts:
        qual, _ = shingle_pairs(docs.select("doc_id", "text"), "doc_id")
        return qual.select(
            F.col("key_a").alias("doc_a"),
            F.col("key_b").alias("doc_b"),
            "n_inter",
            (F.col("n_inter").cast("double") / F.col("na")).alias("containment_a"),
            (F.col("n_inter").cast("double") / F.col("nb")).alias("containment_b"),
        ).orderBy("doc_a", "doc_b")

    # Exact-copy collapse: one representative per distinct text. The
    # md5 exists ONLY inside this collapse; the machinery keys on the
    # representative's numeric id — an earlier version carried the
    # 32-char hash through the inverted-index join and the string
    # shuffle keys made the pair aggregation 4x slower than long keys.
    keyed = docs.select("doc_id", F.md5("text").alias("th"), "text")
    reps = keyed.groupBy("th").agg(
        F.min("doc_id").alias("rep_id"), F.first("text").alias("text")
    )
    members = keyed.select("th", "doc_id").join(
        reps.select("th", "rep_id"), "th"
    ).select("rep_id", "doc_id")
    qual, sizes = shingle_pairs(reps.select("rep_id", "text"), "rep_id")
    qual = qual.select(
        F.col("key_a").alias("rep_a"),
        F.col("key_b").alias("rep_b"),
        "n_inter",
        "na",
        "nb",
    )
    # Cross-group expansion: every member pair inherits the reps' score;
    # the smaller doc_id plays role A, so its group's size is the ca
    # denominator.
    cross = (
        qual.join(
            members.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("id_a")),
            "rep_a",
        )
        .join(
            members.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("id_b")),
            "rep_b",
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / F.when(F.col("id_a") < F.col("id_b"), F.col("na")).otherwise(
                    F.col("nb")
                )
            ).alias("containment_a"),
            (
                F.col("n_inter").cast("double")
                / F.when(F.col("id_a") < F.col("id_b"), F.col("nb")).otherwise(
                    F.col("na")
                )
            ).alias("containment_b"),
        )
    )
    # Within-group pairs: byte-identical docs fully contain each other
    # (n_inter = the group's distinct-shingle count, both scores 1.0);
    # groups whose text has < 3 tokens have no shingles and emit
    # nothing, which the inner join on sizes enforces.
    wg = members.join(sizes, "rep_id")
    within = (
        wg.select("rep_id", F.col("doc_id").alias("doc_a"), "n_distinct")
        .join(
            wg.select("rep_id", F.col("doc_id").alias("doc_b")),
            "rep_id",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_distinct").alias("n_inter"),
            (F.col("n_distinct") / F.col("n_distinct"))
            .cast("double")
            .alias("containment_a"),
            (F.col("n_distinct") / F.col("n_distinct"))
            .cast("double")
            .alias("containment_b"),
        )
    )
    return cross.unionByName(within).orderBy("doc_a", "doc_b")


@register(
    "first_touch_attribution",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, event_id, ts,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id, event_type)
                       AS n_touches
            FROM events
        )
        SELECT user_id, event_type,
               event_id AS first_event_id,
               ts AS first_ts,
               CAST(n_touches AS BIGINT) AS n_touches,
               CAST(n_touches - 1 AS BIGINT) AS n_suppressed
        FROM ranked WHERE rn = 1
        ORDER BY user_id, event_type
    """,
    tags=("D3", "D4", "attribution"),
    doc="First-touch attribution: per (user, event_type) the first event "
    "by (ts, event_id) is attributed and every later touch is "
    "suppressed-and-counted — the delivery claim's first-occurrence rule "
    "(streaming/delivery_state.py) in batch, plus the suppression tally. "
    "One shuffle on the grouping key; both window frames share a single "
    "exchange+sort.",
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same key (user_id, event_type) and ordering rule (ts, event_id)
    as the streaming delivery claim; the row_number pick is the batch
    analog of its first claim."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    part = Window.partitionBy("user_id", "event_type")
    return (
        events.select(
            "user_id",
            "event_type",
            "event_id",
            "ts",
            F.row_number()
            .over(part.orderBy("ts", "event_id"))
            .alias("rn"),
            F.count(F.lit(1)).over(part).alias("n_touches"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
            F.col("n_touches").cast("long").alias("n_touches"),
            (F.col("n_touches") - 1).cast("long").alias("n_suppressed"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "dedup_token_window_exact",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               t -> t <> '') AS toks
            FROM documents
        ), wins AS (
            SELECT doc_id, i AS pos,
                   md5(array_to_string(toks[i:i+7], ' ')) AS whash
            FROM toks,
                 LATERAL unnest(range(1, greatest(len(toks) - 6, 1))) AS u(i)
        ), dh AS (
            SELECT whash FROM wins GROUP BY whash HAVING count(*) > 1
        ), dupw AS (
            SELECT w.doc_id, w.pos FROM wins w JOIN dh USING (whash)
        ), cover AS (
            SELECT doc_id, count(DISTINCT tpos) AS n_dup_tokens
            FROM dupw, LATERAL unnest(range(pos, pos + 8)) AS u(tpos)
            GROUP BY doc_id
        ), per_doc AS (
            SELECT w.doc_id, count(*) AS n_windows,
                   count(*) FILTER (WHERE dh.whash IS NOT NULL)
                       AS n_dup_windows
            FROM wins w LEFT JOIN dh ON dh.whash = w.whash
            GROUP BY w.doc_id
        )
        SELECT t.doc_id,
               len(t.toks) AS n_tokens,
               COALESCE(p.n_windows, 0) AS n_windows,
               COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
               COALESCE(c.n_dup_tokens, 0) AS n_dup_tokens,
               CAST(COALESCE(c.n_dup_tokens, 0) AS DOUBLE)
                   / greatest(len(t.toks), 1) AS dup_token_frac,
               CAST(COALESCE(c.n_dup_tokens, 0) AS DOUBLE)
                   / greatest(len(t.toks), 1) < 0.5 AS keep
        FROM toks t
        LEFT JOIN per_doc p USING (doc_id)
        LEFT JOIN cover c USING (doc_id)
    """,
    tags=("dedup", "llm", "text", "substring"),
    doc="Exact substring dedup at token-window grain (the MapReduce "
    "shape of Lee et al. 2021's suffix-array dedup): every 8-token "
    "rolling window is hashed; a window occurring more than once in "
    "the corpus marks its token span duplicated; per document the "
    "union of duplicated spans gives the duplicated-token fraction "
    "and a keep decision at < 0.5.",
)
def dedup_token_window_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape: map-only window hashing (tokens x rows of 32-byte
    hashes), one map-side-combined groupBy(whash) to find corpus-wide
    repeats, a semi-join back (AQE handles hot boilerplate hashes),
    and the interval-union cover computed by exploding ONLY duplicated
    windows. No suffix array, no global sort — at 100 TB this is the
    shuffle-friendly equivalent with W-token resolution."""
    W = 8
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
        ).alias("toks"),
    )
    n = F.size("toks")
    # sequence(1, 0) would DESCEND in Spark (not return empty) — docs
    # shorter than W tokens must yield zero windows explicitly.
    starts = F.when(n >= W, F.sequence(F.lit(1), n - (W - 1))).otherwise(
        F.array().cast("array<int>")
    )
    # wins feeds the repeat-detection agg, the semi-join back, the
    # per-doc rollup, and (via toks) the final projection — pin it so
    # tokenize + W-gram hashing run once, not once per consumer.
    wins = (
        toks.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    starts,
                    lambda i: F.md5(F.array_join(F.slice("toks", i, W), " ")),
                )
            ).alias("p0", "whash"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "whash")
        .localCheckpoint()
    )
    dh = wins.groupBy("whash").agg(F.count(F.lit(1)).alias("nocc")).filter(
        F.col("nocc") > 1
    ).select("whash")
    dupw = wins.join(dh, "whash")
    # n_windows is a PURE FUNCTION of the token count (len >= W ->
    # len - W + 1, else 0), so the former per_doc arm — a left join +
    # groupBy over ALL windows, the widest relation in the query —
    # is computable in the final projection for free. n_dup_windows
    # rides the SAME aggregation as the token cover: after exploding
    # each duplicated window to its W token positions, distinct pos
    # counts windows and distinct tpos counts covered tokens — one
    # shuffle over the (small) duplicated subset instead of two, and
    # zero shuffles over the full window stream beyond the repeat
    # finder. Oracle unchanged (it keeps the naive per_doc form),
    # proving the identity. sf0.1 timing is NEUTRAL (the eager wins
    # checkpoint dominates there — measured 1.6 s both forms); the win
    # is the deleted |windows|-sized join+groupBy, which at 100 TB is
    # the query's widest shuffle after the repeat finder itself.
    cover = (
        dupw.select(
            "doc_id",
            "pos",
            F.explode(F.sequence("pos", F.col("pos") + (W - 1))).alias("tpos"),
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tpos").alias("n_dup_tokens"),
            F.countDistinct("pos").alias("n_dup_windows"),
        )
    )
    frac = F.coalesce("n_dup_tokens", F.lit(0)).cast("double") / F.greatest(
        n, F.lit(1)
    )
    return (
        toks.join(cover, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_tokens"),
            F.when(n >= W, n - (W - 1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            frac.alias("dup_token_frac"),
            (frac < 0.5).alias("keep"),
        )
    )


@register(
    "dedup_survivorship_canonical",
    oracle=f"""
        WITH RECURSIVE edges AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()}) pairs
        ), sym AS (
            SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL
            SELECT doc_b, doc_a FROM edges
        ), reach(node, r) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
        ), comp AS (
            SELECT node AS doc_id, min(r) AS cluster_id
            FROM reach GROUP BY node
        ), allc AS (
            SELECT d.doc_id, d.n_chars,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id)
        ), ranked AS (
            SELECT doc_id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_n,
                   ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id) AS rn,
                   first_value(doc_id) OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS canonical_doc_id
            FROM allc
        )
        SELECT doc_id, cluster_id, cluster_n, canonical_doc_id,
               rn = 1 AS is_canonical
        FROM ranked
    """,
    tags=("dedup", "llm", "survivorship", "graph"),
    doc="Survivorship after near-dup clustering: every document gets "
    "its MinHash-LSH connected-component cluster (singletons are their "
    "own cluster), and each cluster elects ONE canonical survivor — "
    "longest text wins, smallest doc_id breaks ties (the keep-the-"
    "longest rule of RefinedWeb-style pipelines). The step real "
    "pipelines run between pair detection and corpus rebuild.",
)
def dedup_survivorship_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape: the candidate/component stages reuse the banded
    minhash + connected-components operators (no new shuffles); the
    election is one window over cluster_id. Cluster sizes are near-dup
    group sizes (tiny, bounded by dedup quality), so the window
    partition can never be the 100 TB bottleneck."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(docs)
    comp = dedup.connected_components(pairs)
    allc = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    w = Window.partitionBy("cluster_id")
    wo = w.orderBy(F.desc("n_chars"), "doc_id")
    return allc.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_n"),
        F.first("doc_id")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("canonical_doc_id"),
        (F.row_number().over(wo) == 1).alias("is_canonical"),
    )


@register(
    "contrastive_pair_sample",
    oracle=f"""
        WITH pos AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()}) p
        ), nn AS (
            SELECT count(*) AS n FROM documents
        ), anchors AS (
            SELECT d.doc_id, t.trial,
                   CAST(concat('0x', substr(md5(
                       concat('neg:', CAST(d.doc_id AS VARCHAR), ':',
                              CAST(t.trial AS VARCHAR))), 1, 8)) AS BIGINT)
                       % (SELECT n FROM nn) AS neg_id
            FROM documents d, (VALUES (0), (1), (2)) AS t(trial)
        ), negs AS (
            SELECT a.doc_id, a.trial, a.neg_id
            FROM anchors a
            WHERE a.neg_id <> a.doc_id
              AND NOT EXISTS (
                  SELECT 1 FROM pos p
                  WHERE (p.doc_a = a.doc_id AND p.doc_b = a.neg_id)
                     OR (p.doc_b = a.doc_id AND p.doc_a = a.neg_id))
        )
        SELECT doc_a AS anchor_id, doc_b AS other_id,
               'pos' AS label, -1 AS trial
        FROM pos
        UNION ALL
        SELECT doc_id AS anchor_id, neg_id AS other_id,
               'neg' AS label, trial
        FROM negs
    """,
    tags=("dedup", "llm", "sampling", "contrastive"),
    doc="Contrastive training-pair construction: positives are the "
    "MinHash-LSH near-dup candidate pairs; negatives are 3 "
    "deterministic md5-sampled partners per document (uniform over the "
    "dense doc-id space), filtered so a sampled negative is never the "
    "anchor itself or a known positive — the dataset-building step "
    "between dedup detection and embedding-model training.",
)
def contrastive_pair_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negatives are map-only (hash of (doc, trial) mod n over the
    dense id space — production corpora first compact ids via
    global_rank, same semantics); the positive-exclusion check is a
    left-anti join against the (tiny) candidate pair set. No shuffle
    touches document content."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    pos = dedup.minhash_lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    anchors = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("trial"),
    ).withColumn(
        "neg_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("trial").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n,
    )
    sym = pos.unionByName(
        pos.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    negs = (
        anchors.filter(F.col("neg_id") != F.col("doc_id"))
        .join(
            sym,
            (anchors["doc_id"] == sym["doc_a"])
            & (anchors["neg_id"] == sym["doc_b"]),
            "left_anti",
        )
    )
    return pos.select(
        F.col("doc_a").alias("anchor_id"),
        F.col("doc_b").alias("other_id"),
        F.lit("pos").alias("label"),
        F.lit(-1).alias("trial"),
    ).unionByName(
        negs.select(
            F.col("doc_id").alias("anchor_id"),
            F.col("neg_id").alias("other_id"),
            F.lit("neg").alias("label"),
            F.col("trial"),
        )
    )


@register(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
        WITH fp AS (
            {dedup.simhash_oracle_sql(bits=32)}
        ), banded AS (
            SELECT doc_id, b.band,
                   (simhash // CAST(2 ** (8 * b.band) AS BIGINT)) % 256
                       AS byte_sig,
                   simhash
            FROM fp, (VALUES (0), (1), (2), (3)) AS b(band)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.byte_sig = b.byte_sig
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
    tags=("dedup", "llm", "simhash", "hamming"),
    doc="SimHash near-duplicate PAIRS (completing the fingerprint op): "
    "the 32-bit fingerprints block on their 4 bytes (two near-dups "
    "within Hamming distance 3 must agree on at least one byte — the "
    "pigeonhole guarantee of Charikar/Manku-style simhash dedup), and "
    "candidates verify with exact XOR+popcount <= 3. Content never "
    "joins; the whole pair pipeline runs on 8-byte fingerprints.",
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fingerprint aggregation (shared with dedup_simhash), one
    groupBy on (band, byte) ints for candidate generation, popcount
    verify — at 100 TB the index is 4 rows of 3 small ints per doc."""
    fp = dedup.simhash(load_table(spark, sf_dir, "documents"), bits=32)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).withColumn(
        "byte_sig",
        F.expr("(simhash div shiftleft(1L, 8 * band)) % 256"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        "band",
        "byte_sig",
        F.col("simhash").alias("sh_a"),
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        "band",
        "byte_sig",
        F.col("simhash").alias("sh_b"),
    )
    cand = (
        a.join(b, ["band", "byte_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "dedup_ttl_within_window",
    oracle="""
        WITH keyed AS (
            SELECT event_id, ts,
                   user_id % 500 AS dedup_key,
                   lag(ts) OVER (
                       PARTITION BY user_id % 500 ORDER BY ts, event_id
                   ) AS prev_ts
            FROM events
        )
        SELECT event_id, dedup_key, ts,
               prev_ts IS NOT NULL
               AND ts - prev_ts <= INTERVAL 6 HOUR AS is_duplicate,
               CASE
                   WHEN prev_ts IS NULL THEN 'first_seen'
                   WHEN ts - prev_ts <= INTERVAL 6 HOUR
                       THEN 'duplicate_prevented'
                   ELSE 're_armed'
               END AS disposition
        FROM keyed
        ORDER BY dedup_key, ts, event_id
    """,
    tags=("dedup", "D4", "D5", "temporal", "streaming-twin"),
    doc="TTL-windowed dedup (the batch twin of "
    "dropDuplicatesWithinWatermark, and of a dedup state store with a "
    "6h TTL): an occurrence is a duplicate iff the SAME key appeared "
    "within the trailing TTL; past the TTL the key re-arms and fires "
    "again. This is the production middle ground between the "
    "reference's forever-dedup (checkEmailJobExists never expires, "
    "index.js:107-141) and no dedup: state is bounded by keys-per-TTL "
    "rather than keys-ever. One lag() per key (single shuffle on the "
    "dedup key) — per-key state is one timestamp, exactly what the "
    "streaming form keeps in the state store "
    "(streaming_dedup_watermark_e2e pins the arrival-order form).",
)
def dedup_ttl_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        "event_id",
        "ts",
        (F.col("user_id") % 500).alias("dedup_key"),
    )
    w = Window.partitionBy("dedup_key").orderBy("ts", "event_id")
    with_prev = keyed.withColumn("prev_ts", F.lag("ts").over(w))
    within_ttl = F.col("prev_ts").isNotNull() & (
        F.col("prev_ts") >= F.col("ts") - F.expr("INTERVAL 6 HOURS")
    )
    return with_prev.select(
        "event_id",
        "dedup_key",
        "ts",
        within_ttl.alias("is_duplicate"),
        F.when(F.col("prev_ts").isNull(), "first_seen")
        .when(within_ttl, "duplicate_prevented")
        .otherwise("re_armed")
        .alias("disposition"),
    ).orderBy("dedup_key", "ts", "event_id")


def _minhash_calibration_oracle() -> str:
    from dynamodb_stream_processor_2_0_spark.operators.dedup import (
        minhash_bands_oracle_cte,
    )

    agree_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(12)
    )
    return f"""
        WITH {minhash_bands_oracle_cte(12, 2, 3)},
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ), agree AS (
            SELECT p.doc_a, p.doc_b, ({agree_sum}) AS n_agree
            FROM pairs p
            JOIN sigs sa ON sa.doc_id = p.doc_a
            JOIN sigs sb ON sb.doc_id = p.doc_b
        ), nsh AS (
            SELECT doc_id, count(DISTINCT v) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.doc_a, p.doc_b, count(DISTINCT a.v) AS i
            FROM pairs p
            JOIN sh a ON a.doc_id = p.doc_a
            JOIN sh b ON b.doc_id = p.doc_b AND b.v = a.v
            GROUP BY p.doc_a, p.doc_b
        ), ji AS (
            SELECT g.doc_a, g.n_agree,
                   COALESCE(i.i, 0) * 1000000
                       // (na.n + nb.n - COALESCE(i.i, 0)) AS exact_micro
            FROM agree g
            JOIN nsh na ON na.doc_id = g.doc_a
            JOIN nsh nb ON nb.doc_id = g.doc_b
            LEFT JOIN inter i
              ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
        )
        SELECT n_agree,
               count(*) AS n_pairs,
               CAST(n_agree * 1000000 // 12 AS BIGINT) AS est_micro,
               CAST(sum(exact_micro) // count(*) AS BIGINT)
                   AS mean_exact_micro
        FROM ji
        GROUP BY n_agree
        ORDER BY n_agree
    """


@register(
    "dedup_minhash_calibration",
    oracle=_minhash_calibration_oracle(),
    tags=("dedup", "llm", "minhash", "eval", "slow"),
    doc="MinHash estimator calibration (the eval harness for the "
    "flagship dedup op, companion to ann_recall_eval): for every LSH "
    "candidate pair, the signature-agreement estimate (n_agree/12) is "
    "binned against the EXACT shingle-set Jaccard, so the output is "
    "the estimator's calibration curve — mean exact similarity per "
    "agreement level, both in exact integer micro-units (i*1e6 div u; "
    "no float division anywhere). A well-calibrated estimator shows "
    "mean_exact_micro tracking est_micro; systematic bias here would "
    "mean the LSH band/row choice (6x2) is filtering on a skewed "
    "statistic. Exact Jaccard runs ONLY on candidate pairs (the "
    "already-banded small set) over hashed-shingle ints — never an "
    "all-pairs scan, and the shingle join carries 8-byte ints, not "
    "text. Same evaluate-the-sketch-inside-the-gate pattern as "
    "agg_hll_accuracy_pinned.",
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(docs)
    sigs = dedup.minhash_signatures(docs, 12, 3)

    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(12)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(12)]
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(12)
    )
    agree = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )

    sh = (
        docs.withColumn("toks", dedup.tokens_col("text"))
        .select(
            "doc_id",
            F.explode(dedup.shingles_col("toks", 3)).alias("shingle"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
            .cast("bigint")
            .alias("v"),
        )
        .distinct()
    )
    # Sorted-array verification (the dedup_prefix_filter_jaccard
    # pattern): the old exploded intersection join consumed `pairs` a
    # second time (the LSH candidate subtree recomputed per action —
    # 16 parquet scans, 0 ReusedExchange in the plan) and shuffled
    # |pairs| x |shingles/doc| narrow rows. One array per doc, one
    # consumer of `pairs`, codegen intersection per candidate row.
    # `sh` is DISTINCT, so i = distinct-common count in both forms;
    # docs with zero shingles drop via the inner join in both forms.
    # r13 (VERDICT item 9, quiet in-sweep A/B closed): committed r11
    # sweep (exploded intersection join) 2.452 s vs committed r12
    # sweep (this form) 2.377 s at 32c, both calibration-healthy
    # artifacts — KEPT.
    arr = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    )
    ji = (
        agree.join(
            arr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("vs").alias("va"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("vs").alias("vb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "n_agree",
            F.size(F.array_intersect("va", "vb")).cast("long").alias("i"),
            "na",
            "nb",
        )
        .select(
            "n_agree",
            F.expr("i * 1000000 div (na + nb - i)").alias("exact_micro"),
        )
    )
    return (
        ji.groupBy("n_agree")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.first(F.expr("n_agree * 1000000 div 12")).alias("est_micro"),
            F.expr("sum(exact_micro) div count(1)").alias("mean_exact_micro"),
        )
        .select(
            "n_agree",
            "n_pairs",
            F.col("est_micro").cast("long"),
            F.col("mean_exact_micro").cast("long"),
        )
        .orderBy("n_agree")
    )


def _prefix_filter_oracle() -> str:
    from dynamodb_stream_processor_2_0_spark.operators.dedup import _shingles_sql

    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
                       AS v
            FROM (
                SELECT doc_id, unnest({_shingles_sql(3)}) AS shingle
                FROM toks
            )
        ), freq AS (
            SELECT v, count(*) AS df FROM sh GROUP BY v
        ), sized AS (
            SELECT s.doc_id, s.v, f.df,
                   count(*) OVER (PARTITION BY s.doc_id) AS n,
                   row_number() OVER (
                       PARTITION BY s.doc_id ORDER BY f.df, s.v
                   ) AS pos
            FROM sh s JOIN freq f USING (v)
        ), prefix AS (
            SELECT doc_id, v
            FROM sized
            WHERE pos <= n - (n + 1) // 2 + 1
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM prefix a JOIN prefix b
              ON a.v = b.v AND a.doc_id < b.doc_id
        ), nsh AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS i
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.v = a.v
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT i.doc_a, i.doc_b,
               CAST(i.i AS BIGINT) AS n_inter,
               CAST(na.n + nb.n - i.i AS BIGINT) AS n_union,
               CAST(i.i * 1000 // (na.n + nb.n - i.i) AS BIGINT)
                   AS jaccard_milli
        FROM inter i
        JOIN nsh na ON na.doc_id = i.doc_a
        JOIN nsh nb ON nb.doc_id = i.doc_b
        WHERE i.i * 2 >= na.n + nb.n - i.i
        ORDER BY i.doc_a, i.doc_b
    """


@register(
    "dedup_prefix_filter_jaccard",
    oracle=_prefix_filter_oracle(),
    tags=("dedup", "llm", "set-similarity", "scale", "slow"),
    doc="Prefix-filtered set-similarity join (the PPJoin/AllPairs "
    "family, Bayardo et al. / Xiao et al.): for Jaccard >= 0.5 each "
    "document only indexes its n - ceil(n/2) + 1 RAREST shingles "
    "(global-frequency order) — any qualifying pair is guaranteed to "
    "collide on at least one indexed shingle (pigeonhole), so the "
    "inverted index shrinks ~2x and, because rare tokens have short "
    "posting lists, the candidate count falls far more than 2x. "
    "Candidates are then verified with the EXACT Jaccard (integer "
    "milli-units, i*2 >= union as the threshold test — no float "
    "compare). The deterministic exact-threshold complement to "
    "minhash's probabilistic banding, and the third member of the "
    "set-similarity toolkit next to dedup_ngram_jaccard's sampled "
    "inverted index. Shuffle budget: shingle df agg + one "
    "(freq-ordered) per-doc window + prefix self-join on rare "
    "shingles + candidate-scoped verify joins, all on 8-byte hashed "
    "shingle ints.",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical layout is gated on the MEASURED duplication factor,
    exactly like dedup_shingle_containment: exact-copy clusters share
    every shingle (rare ones included), so a cluster of m copies emits
    m^2 candidate pairs through the prefix index — the quadratic term
    that took containment to 12.6x wall at 10x duplication. Past the
    gate, byte-identical texts collapse to one representative for the
    prefix join and member pairs are expanded afterwards; Jaccard
    stats carry over unchanged because identical texts have identical
    shingle sets (within-group pairs are jaccard=1000 by definition).
    The oracle stays the naive form — collapse+expand is semantics-
    preserving, which the gate proves on every corpus it runs on."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")

    def prefix_pairs(keyed, key):
        # DISTINCT hashed-shingle sets (collapses 32-bit hash
        # collisions identically in the oracle), checkpointed once —
        # the relation feeds the frequency agg, the prefix window AND
        # the verification arrays, so recomputing the explode 3x paid
        # ~15% of the query.
        sh = (
            keyed.withColumn("toks", dedup.tokens_col("text"))
            .select(key, F.explode(dedup.shingles_col("toks", 3)).alias("shingle"))
            .select(
                key,
                F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
                .cast("bigint")
                .alias("v"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        freq = sh.groupBy("v").agg(F.count(F.lit(1)).alias("df"))
        wn = Window.partitionBy(key)
        wp = Window.partitionBy(key).orderBy("df", "v")
        sized = (
            sh.join(freq, "v")
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .withColumn("pos", F.row_number().over(wp))
        )
        prefix = sized.filter(F.expr("pos <= n - (n + 1) div 2 + 1")).select(
            key, "v", "n", "pos"
        )
        a = prefix.select(
            F.col(key).alias("key_a"),
            "v",
            F.col("n").alias("n_a"),
            F.col("pos").alias("pa"),
        )
        b = prefix.select(
            F.col(key).alias("key_b"),
            "v",
            F.col("n").alias("n_b"),
            F.col("pos").alias("pb"),
        )
        # PPJoin size filter, applied BEFORE the dedup agg: jaccard >=
        # 0.5 requires max(n_a, n_b) <= 2 * min(n_a, n_b) (i <= min and
        # i >= (n_a+n_b)/3 force it), so size-mismatched collisions
        # never become candidates. Then the POSITIONAL filter: the
        # earliest prefix collision (min pa — the same token also gives
        # min pb, because both docs order tokens by the same global
        # (df, v) key) bounds the whole overlap at
        # 1 + min(n_a - pa, n_b - pb); pairs whose bound can't reach
        # the required (n_a + n_b + 2) div 3 are pruned before any
        # verification join. Both filters are exact — no output change
        # — so the oracle stays the naive form.
        cand = (
            a.join(b, "v")
            .filter(
                (F.col("key_a") < F.col("key_b"))
                & (
                    F.greatest("n_a", "n_b")
                    <= 2 * F.least("n_a", "n_b")
                )
            )
            .groupBy("key_a", "key_b")
            .agg(
                F.min("pa").alias("pa"),
                F.min("pb").alias("pb"),
                F.first("n_a").alias("n_a"),
                F.first("n_b").alias("n_b"),
            )
            .filter(
                1 + F.least(F.col("n_a") - F.col("pa"), F.col("n_b") - F.col("pb"))
                >= F.expr("(n_a + n_b + 2) div 3")
            )
            .select("key_a", "key_b")
        )
        # Verification via per-doc sorted signature ARRAYS instead of
        # an exploded intersection join: the candidate set on this
        # vocabulary is ~25x the doc count, so the exploded form pushed
        # |cand| x |shingles/doc| (millions of) narrow rows through a
        # join + groupBy. Two array joins carry one ~n-int payload per
        # doc and the multiset-free intersection (sets are DISTINCT
        # above) runs in whole-stage codegen per candidate row.
        # Measured at sf0.1: 4.9 s -> 2.5 s.
        arr = sh.groupBy(key).agg(
            F.sort_array(F.collect_list("v")).alias("vs")
        )
        arr = arr.select(key, "vs", F.size("vs").cast("long").alias("n"))
        qual = (
            cand.join(
                arr.select(
                    F.col(key).alias("key_a"),
                    F.col("vs").alias("va"),
                    F.col("n").alias("na"),
                ),
                "key_a",
            )
            .join(
                arr.select(
                    F.col(key).alias("key_b"),
                    F.col("vs").alias("vb"),
                    F.col("n").alias("nb"),
                ),
                "key_b",
            )
            .select(
                "key_a",
                "key_b",
                F.size(F.array_intersect("va", "vb")).cast("long").alias("i"),
                "na",
                "nb",
            )
            .filter(F.expr("i * 2 >= na + nb - i"))
        )
        nsh = arr.select(key, "n")
        return qual, nsh

    out_cols = [
        "doc_a",
        "doc_b",
        F.col("i").cast("long").alias("n_inter"),
        F.expr("cast(na + nb - i AS bigint)").alias("n_union"),
        F.expr("cast(i * 1000 div (na + nb - i) AS bigint)").alias("jaccard_milli"),
    ]

    n_docs = docs.count()
    n_texts = docs.agg(F.countDistinct(F.md5("text")).alias("n")).first()["n"]
    if n_docs <= _COLLAPSE_FACTOR * n_texts:
        qual, _ = prefix_pairs(docs.select("doc_id", "text"), "doc_id")
        return qual.select(
            F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"), *out_cols[2:]
        ).orderBy("doc_a", "doc_b")

    keyed = docs.select("doc_id", F.md5("text").alias("th"), "text")
    reps = keyed.groupBy("th").agg(
        F.min("doc_id").alias("rep_id"), F.first("text").alias("text")
    )
    members = (
        keyed.select("th", "doc_id")
        .join(reps.select("th", "rep_id"), "th")
        .select("rep_id", "doc_id")
    )
    qual, nsh = prefix_pairs(reps.select("rep_id", "text"), "rep_id")
    # Jaccard is symmetric and identical texts have identical shingle
    # sets, so member pairs inherit the rep pair's stats verbatim.
    cross = (
        qual.select(F.col("key_a").alias("rep_a"), F.col("key_b").alias("rep_b"), "i", "na", "nb")
        .join(
            members.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("id_a")),
            "rep_a",
        )
        .join(
            members.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("id_b")),
            "rep_b",
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            *out_cols[2:],
        )
    )
    # Within-group pairs: full overlap; groups whose text has < 3
    # tokens have no shingles and emit nothing (inner join on nsh).
    wg = members.join(nsh, "rep_id")
    within = (
        wg.select("rep_id", F.col("doc_id").alias("doc_a"), "n")
        .join(wg.select("rep_id", F.col("doc_id").alias("doc_b")), "rep_id")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n").cast("long").alias("n_inter"),
            F.col("n").cast("long").alias("n_union"),
            F.lit(1000).cast("long").alias("jaccard_milli"),
        )
    )
    return cross.unionByName(within).orderBy("doc_a", "doc_b")


@register(
    "dedup_cluster_size_report",
    oracle=f"""
        WITH RECURSIVE edges AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()}) pairs
        ), sym AS (
            SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL
            SELECT doc_b, doc_a FROM edges
        ), reach(node, r) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
        ), assign AS (
            SELECT node AS doc_id, min(r) AS cluster_id
            FROM reach GROUP BY node
        ), csize AS (
            SELECT cluster_id, count(*) AS sz FROM assign GROUP BY cluster_id
        )
        SELECT sz AS cluster_size,
               count(*) AS n_clusters,
               CAST(sum(sz) AS BIGINT) AS n_docs,
               CAST(sum(sz - 1) AS BIGINT) AS n_removable
        FROM csize
        GROUP BY sz
        ORDER BY sz
    """,
    tags=("dedup", "llm", "graph", "reporting", "slow"),
    doc="Dedup impact report: the cluster-size histogram over the "
    "near-dup connected components — how many clusters of each size, "
    "how many documents they hold, and how many would be removed by "
    "keep-one-per-cluster (size - 1 each). This is the number a "
    "curation run reports before committing a destructive dedup (the "
    "reference's duplicatesPrevented counter, index.js:42-92, lifted "
    "from per-batch to corpus level). Rides dedup_cluster_assign; the "
    "report itself is two bounded aggregations over one row per "
    "clustered doc.",
)
def dedup_cluster_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(docs)
    assign = dedup.connected_components(pairs)
    csize = assign.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        csize.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.sum(F.col("sz") - 1).alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


# --- content-defined chunking dedup ----------------------------------------

_CDC_MOD = 8  # expected chunk length = 8 tokens (boundary prob 1/8)

_CDC_CHUNK_ORACLE = f"""
    WITH rawtoks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), toks AS (
        SELECT doc_id, tok,
               row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS gpos
        FROM rawtoks WHERE tok <> ''
    ), marked AS (
        SELECT doc_id, tok, gpos,
               CASE WHEN gpos > 1 AND
                    CAST('0x' || substr(md5(
                        lag(tok) OVER (PARTITION BY doc_id ORDER BY gpos)
                        || '|' || tok), 1, 8) AS BIGINT) % {_CDC_MOD} = 0
                    THEN 1 ELSE 0 END AS cut
        FROM toks
    ), numbered AS (
        SELECT doc_id, tok, gpos,
               sum(cut) OVER (PARTITION BY doc_id ORDER BY gpos
                              ROWS UNBOUNDED PRECEDING) AS chunk_id
        FROM marked
    ), chunks AS (
        SELECT doc_id, chunk_id,
               string_agg(tok, ' ' ORDER BY gpos) AS ctext
        FROM numbered GROUP BY doc_id, chunk_id
    ), hashed AS (
        SELECT doc_id, md5(ctext) AS h, length(ctext) AS n_chars
        FROM chunks
    ), gdf AS (
        SELECT h, count(*) AS df FROM hashed GROUP BY h
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT c.h) AS BIGINT) AS uniq_in_source,
           CAST(sum(CASE WHEN g.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS global_dup_chunks,
           CAST(sum(c.n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN g.df > 1 THEN c.n_chars ELSE 0 END) AS BIGINT)
               AS chars_in_dup_chunks
    FROM hashed c
    JOIN gdf g ON g.h = c.h
    JOIN (SELECT doc_id, source FROM documents) s ON s.doc_id = c.doc_id
    GROUP BY s.source
    ORDER BY s.source
"""


@register(
    "dedup_cdc_chunks",
    oracle=_CDC_CHUNK_ORACLE,
    tags=("dedup", "text", "llm"),
    doc="Content-defined chunking dedup (the rsync/LBFS/restic cut-point "
    "technique): a chunk boundary falls BEFORE token t wherever "
    "md5(prev_token|t) = 0 mod 8, so boundaries are a function of "
    "LOCAL content — inserting or deleting a token reshuffles only the "
    "chunks around the edit instead of re-striding the whole document "
    "(the failure mode of fixed-size chunking). Expected chunk length "
    "is 8 tokens; chunks hash to a global store and the report shows, "
    "per source, how much chunk-level duplication a content-addressed "
    "store would reclaim — dedup at sub-document grain, between "
    "paragraph-exact and token-window-exact in the family. Plan: one "
    "tokenize pass, two stacked per-doc windows (lag mark + prefix-sum "
    "chunk ids), one (doc,chunk) rollup, one global chunk-hash df agg, "
    "one per-source rollup — no self-joins, linear in tokens.",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk text is rebuilt with an ordered struct sort inside each
    (doc, chunk) group, so the hash is deterministic regardless of
    partitioning; the boundary hash and its '0x'-cast oracle twin are
    bit-identical (house md5-to-BIGINT rule)."""
    docs = load_table(spark, sf_dir, "documents")
    wpos = Window.partitionBy("doc_id").orderBy("pos")
    toks = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
        )
        .filter(F.col("tok") != "")
        .withColumn("gpos", F.row_number().over(wpos))
        .drop("pos")
    )
    wg = Window.partitionBy("doc_id").orderBy("gpos")
    marked = toks.withColumn("prev", F.lag("tok").over(wg)).withColumn(
        "cut",
        F.when(
            (F.col("gpos") > 1)
            & (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", "prev", "tok")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % _CDC_MOD
                == 0
            ),
            1,
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "chunk_id",
        F.sum("cut").over(wg.rowsBetween(Window.unboundedPreceding, 0)),
    )
    chunks = numbered.groupBy("doc_id", "chunk_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(gpos, tok))),"
                " s -> s.tok)"
            ),
            " ",
        ).alias("ctext")
    )
    hashed = chunks.select(
        "doc_id",
        F.md5("ctext").alias("h"),
        F.length("ctext").alias("n_chars"),
    ).localCheckpoint(eager=False)
    gdf = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    dup = F.col("df") > 1
    return (
        hashed.join(gdf, "h")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("h").cast("long").alias("uniq_in_source"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias(
                "global_dup_chunks"
            ),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum(F.when(dup, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_in_dup_chunks"),
        )
        .orderBy("source")
    )


# --- Fellegi-Sunter probabilistic record linkage ---------------------------
#
# The 1969 probabilistic-linkage model on the parts catalog: blocked
# candidate pairs scored by per-field agreement weights log2(m/u) /
# log2((1-m)/(1-u)) with published-style m (match agreement) and u
# (chance agreement) probabilities baked in as exact milli constants —
# the weights are MODEL PARAMETERS (like the hashed scorer's vector),
# so no log runs at query time and both engines share the integers.
#   adjective: m=.90 u=.05  ->  +4170 / -3248
#   brand:     m=.95 u=.20  ->  +2248 / -4000
#   type:      m=.90 u=.25  ->  +1848 / -2907
# Three-way Fellegi-Sunter decision: match >= +6000 milli (two strong
# agreements), possible in [0, 6000), non-match < 0.
_FS_SCORE = """
    (CASE WHEN adj_a = adj_b THEN 4170 ELSE -3248 END
     + CASE WHEN brand_a = brand_b THEN 2248 ELSE -4000 END
     + CASE WHEN type_a = type_b THEN 1848 ELSE -2907 END)
"""

_FS_DECISION = """
    CASE WHEN score >= 6000 THEN 'match'
         WHEN score >= 0 THEN 'possible'
         ELSE 'non_match' END
"""

_FS_REPORT = """
    SELECT {decision} AS decision,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST((CASE WHEN sum(score) < 0 THEN -1 ELSE 1 END)
                * (abs(CAST(sum(score) AS BIGINT)) {fdiv} count(*))
                AS BIGINT) AS mean_score_milli,
           CAST(min(score) AS BIGINT) AS min_score_milli,
           CAST(max(score) AS BIGINT) AS max_score_milli
    FROM scored
    GROUP BY 1
    ORDER BY decision
"""

_FS_ORACLE = f"""
    WITH recs AS (
        SELECT p_partkey AS pk,
               split_part(p_name, ' ', 1) AS adj,
               split_part(p_name, ' ', 2) AS noun,
               p_brand AS brand, p_type AS ptype, p_size AS psize
        FROM part
    ), scored AS (
        SELECT {_FS_SCORE.replace('adj_a', 'a.adj')
                         .replace('adj_b', 'b.adj')
                         .replace('brand_a', 'a.brand')
                         .replace('brand_b', 'b.brand')
                         .replace('type_a', 'a.ptype')
                         .replace('type_b', 'b.ptype')} AS score
        FROM recs a JOIN recs b
          ON a.noun = b.noun AND a.psize = b.psize AND a.pk < b.pk
    )
    {_FS_REPORT.format(decision=_FS_DECISION, fdiv='//')}
"""


@register(
    "dedup_fellegi_sunter_linkage",
    oracle=_FS_ORACLE,
    tags=("dedup", "fuzzy", "join", "ml"),
    doc="Fellegi-Sunter probabilistic record linkage over the parts "
    "catalog: candidate pairs blocked on (noun, exact size) — the "
    "block key bounds every block to ~1/400 of the table, and the "
    "production knob for bigger data is the standard multi-pass move "
    "of adding brand to the key, not a cap — scored by per-field "
    "agreement weights log2(m/u) frozen into exact milli-grid model "
    "constants (no runtime log), then the classic three-way decision "
    "(match / possible / non-match) with per-class count and score "
    "stats. Upgrades fuzzy_match_blocked_levenshtein's single-field "
    "edit distance to the multi-evidence probabilistic model real MDM "
    "/ entity-resolution stacks run; the blocked equi-join + map-side "
    "CASE scoring + one rollup shape shuffles only on the block key.",
)
def dedup_fellegi_sunter_linkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    recs = part.selectExpr(
        "p_partkey AS pk",
        "split_part(p_name, ' ', 1) AS adj",
        "split_part(p_name, ' ', 2) AS noun",
        "p_brand AS brand",
        "p_type AS ptype",
        "p_size AS psize",
    )
    a, b = recs.alias("a"), recs.alias("b")
    score = F.expr(
        _FS_SCORE.replace("adj_a", "a.adj")
        .replace("adj_b", "b.adj")
        .replace("brand_a", "a.brand")
        .replace("brand_b", "b.brand")
        .replace("type_a", "a.ptype")
        .replace("type_b", "b.ptype")
    )
    scored = a.join(
        b,
        (F.col("a.noun") == F.col("b.noun"))
        & (F.col("a.psize") == F.col("b.psize"))
        & (F.col("a.pk") < F.col("b.pk")),
    ).select(score.alias("score"))
    scored.createOrReplaceTempView("fs_scored")
    return spark.sql(
        "WITH scored AS (SELECT * FROM fs_scored)"
        + _FS_REPORT.format(decision=_FS_DECISION, fdiv="div")
    )


# --- B-cubed evaluation of the dedup clustering ----------------------------
#
# B^3 precision/recall (Bagga & Baldwin; Amigo et al.) — the standard
# entity-resolution clustering metric — evaluating the SYSTEM
# clustering (MinHash-LSH candidates + connected components, extended
# to singletons) against the TRUTH partition (exact-text groups by
# md5). Per doc d: P_d = |C(d) n T(d)| / |C(d)|, R_d = same / |T(d)|;
# the report is the corpus averages on the exact permille grid plus
# their harmonic F1 by cross-multiplication. Every quantity is a
# count: the (cluster, truth) co-membership sizes come from one
# rollup of the doc->(c, t) assignment relation, cluster/truth sizes
# from two more — no pairwise doc x doc comparison anywhere (the
# naive B^3 definition sums over pairs; the size-algebra form is the
# scale form).

_BCUBED_ORACLE = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()}) p
    ), sym AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
    ), cc AS (
        SELECT node AS doc_id, min(r) AS c FROM reach GROUP BY node
    ), assign AS (
        SELECT d.doc_id,
               COALESCE(cc.c, d.doc_id) AS c,
               t.t
        FROM documents d
        LEFT JOIN cc ON cc.doc_id = d.doc_id
        JOIN (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS t
            FROM documents
        ) t ON t.doc_id = d.doc_id
    ), ct AS (
        SELECT c, t, CAST(count(*) AS BIGINT) AS n_ct
        FROM assign GROUP BY c, t
    ), cs AS (
        SELECT c, CAST(count(*) AS BIGINT) AS n_c FROM assign GROUP BY c
    ), ts AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM assign GROUP BY t
    ), per_doc AS (
        SELECT a.doc_id,
               (ct.n_ct * 1000) // cs.n_c AS p_permille,
               (ct.n_ct * 1000) // ts.n_t AS r_permille
        FROM assign a
        JOIN ct ON ct.c = a.c AND ct.t = a.t
        JOIN cs ON cs.c = a.c
        JOIN ts ON ts.t = a.t
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(p_permille) // count(*) AS BIGINT) AS p_avg,
               CAST(sum(r_permille) // count(*) AS BIGINT) AS r_avg
        FROM per_doc
    )
    SELECT n_docs,
           (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM assign)
               AS n_sys_clusters,
           (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM assign)
               AS n_truth_groups,
           p_avg AS bcubed_p_permille,
           r_avg AS bcubed_r_permille,
           CAST(CASE WHEN p_avg + r_avg = 0 THEN 0
                ELSE (2 * p_avg * r_avg) // (p_avg + r_avg) END AS BIGINT)
               AS bcubed_f1_permille
    FROM agg
"""


@register(
    "eval_dedup_bcubed",
    oracle=_BCUBED_ORACLE,
    tags=("dedup", "eval", "llm", "stats"),
    doc="B-cubed precision/recall/F1 (Bagga & Baldwin; the standard "
    "entity-resolution clustering metric) scoring the engine's OWN "
    "near-dup pipeline: system = MinHash-LSH candidates + connected "
    "components extended to singletons, truth = exact-text md5 "
    "groups. Per-doc P/R on the exact permille grid, corpus averages, "
    "harmonic F1 by cross-multiplication — and the whole computation "
    "is SIZE ALGEBRA: one rollup of the doc->(cluster, truth) "
    "assignment for co-membership sizes plus cluster/truth size "
    "rollups, never the pairwise doc x doc sum the naive B^3 "
    "definition suggests (quadratic in the largest cluster at 100 "
    "TB). Closes the dedup family's eval loop the way "
    "ann_recall_eval closes ANN's: dedup_minhash_calibration tunes "
    "the bands, this op scores the end-to-end clustering they "
    "produce.",
)
def eval_dedup_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(docs)
    cc = dedup.connected_components(pairs).withColumnRenamed(
        "cluster_id", "c"
    )
    truth = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("t"),
    )
    assign = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .join(truth, "doc_id")
        .select("doc_id", F.coalesce("c", F.col("doc_id")).alias("c"), "t")
        .localCheckpoint(eager=False)
    )
    ct = assign.groupBy("c", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n_ct")
    )
    cs = assign.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    ts = assign.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    per_doc = (
        assign.join(ct, ["c", "t"])
        .join(cs, "c")
        .join(ts, "t")
        .select(
            F.expr("n_ct * 1000 div n_c").alias("p_permille"),
            F.expr("n_ct * 1000 div n_t").alias("r_permille"),
        )
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(p_permille) div count(*)").cast("long").alias("p_avg"),
        F.expr("sum(r_permille) div count(*)").cast("long").alias("r_avg"),
    )
    sizes = F.broadcast(
        assign.agg(
            F.countDistinct("c").cast("long").alias("n_sys_clusters"),
            F.countDistinct("t").cast("long").alias("n_truth_groups"),
        )
    )
    return agg.crossJoin(sizes).select(
        "n_docs",
        "n_sys_clusters",
        "n_truth_groups",
        F.col("p_avg").alias("bcubed_p_permille"),
        F.col("r_avg").alias("bcubed_r_permille"),
        F.expr(
            "CAST(CASE WHEN p_avg + r_avg = 0 THEN 0 "
            "ELSE (2 * p_avg * r_avg) div (p_avg + r_avg) END AS BIGINT)"
        ).alias("bcubed_f1_permille"),
    )


# --- sorted-neighborhood blocking ------------------------------------------
#
# The third classic blocking strategy (Hernandez & Stolfo), alongside
# the key-equality blocks (fuzzy_match_blocked_levenshtein) and the
# LSH bands (dedup_minhash_lsh): sort the corpus by a normalized key
# and compare ONLY records within a sliding window of w positions.
# The candidate count is bounded by n*(w-1) BY CONSTRUCTION — no block
# can blow up, the guarantee equality-blocking lacks (skewed key) and
# LSH lacks (hot band). The global sort rides global_rank (range
# exchange + broadcast offsets, no single-task sort), and the window
# pairing is w-1 EQUI-joins on rank+k generated by one explode — never
# a theta join.

_SNM_W = 8  # window width: each record meets its w-1 successors


def _snm_oracle() -> str:
    return f"""
        WITH keyed AS (
            SELECT doc_id, substr(lower(text), 1, 24) AS k,
                   substr(text, 1, 64) AS probe
            FROM documents
        ), ranked AS (
            SELECT doc_id, k, probe,
                   row_number() OVER (ORDER BY k, doc_id) AS r
            FROM keyed
        ), offs AS (
            SELECT unnest(range(1, {_SNM_W})) AS o
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.probe, b.probe) AS BIGINT)
                       AS edit_dist,
                   CAST(b.r - a.r AS BIGINT) AS rank_gap
            FROM ranked a
            CROSS JOIN offs
            JOIN ranked b ON b.r = a.r + offs.o
        )
        SELECT doc_a, doc_b, edit_dist, rank_gap
        FROM pairs
        WHERE edit_dist <= 20
        ORDER BY edit_dist, doc_a, doc_b
        LIMIT 25
    """


@register(
    "dedup_sorted_neighborhood",
    oracle=_snm_oracle(),
    tags=("dedup", "blocking", "llm", "scale"),
    doc="Sorted-neighborhood near-dup blocking (Hernandez-Stolfo): "
    "records sorted by the normalized 24-char text prefix, candidate "
    "pairs ONLY within a w=8 sliding window over the sorted order — "
    "candidates bounded by n*(w-1) by construction, the worst-case "
    "guarantee that equality blocks (skewed key) and LSH bands (hot "
    "band) cannot give; the complementary recall profile catches "
    "prefix-similar docs whose shingle sets diverge. The global sort "
    "is global_rank (range exchange + per-partition window + "
    "broadcast offsets — no single-task sort), and the neighborhood "
    "pairing is w-1 EQUI-joins produced by one explode of rank "
    "offsets, shuffling on the rank key — never a theta join. "
    "Verification is exact Levenshtein on the 64-char probe (same "
    "built-in in both engines); top-25 closest pairs via "
    "TakeOrderedAndProject.",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.operators.ranking import (
        global_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.expr("substr(lower(text), 1, 24)").alias("k"),
        F.expr("substr(text, 1, 64)").alias("probe"),
    )
    ranked = global_rank(keyed, ["k", "doc_id"], out_col="r")
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("probe").alias("probe_a"),
        F.col("r").alias("r_a"),
        F.explode(F.expr(f"sequence(1, {_SNM_W - 1})")).alias("o"),
    ).select(
        "doc_a",
        "probe_a",
        "r_a",
        (F.col("r_a") + F.col("o")).alias("r_match"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("probe").alias("probe_b"),
        F.col("r").alias("r_match"),
    )
    return (
        left.join(right, "r_match")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("probe_a", "probe_b")
            .cast("long")
            .alias("edit_dist"),
            (F.col("r_match") - F.col("r_a")).cast("long").alias(
                "rank_gap"
            ),
        )
        .filter(F.col("edit_dist") <= 20)
        .orderBy("edit_dist", "doc_a", "doc_b")
        .limit(25)
    )


# --- local clustering coefficient over the near-dup graph --------------------
#
# Completes the triangle family: graph_triangle_enumerate lists the
# triangles; this turns them into the WATTS-STROGATZ local clustering
# coefficient per node (2*tri_v / deg_v*(deg_v-1)) and the global
# TRANSITIVITY (3*T / #wedges) — the template-family density score: a
# near-dup component whose nodes sit at cc ~ 1000 is a clique
# (boilerplate family, safe to keep one), while low-cc hubs are chain
# artifacts of the banding. Same compact-forward 3-join as the
# enumerator (each triangle counted once with x<y<z, credited to all
# three corners); degrees and wedges come from one endpoint-union
# rollup. All exact integer permille.


def _cc_oracle() -> str:
    return f"""
        WITH e AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()})
        ), tri AS (
            SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
            FROM e e1
            JOIN e e2 ON e2.doc_a = e1.doc_b
            JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ), tri_v AS (
            SELECT v, CAST(count(*) AS BIGINT) AS t
            FROM (SELECT x AS v FROM tri UNION ALL
                  SELECT y FROM tri UNION ALL
                  SELECT z FROM tri)
            GROUP BY v
        ), deg AS (
            SELECT v, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT doc_a AS v FROM e UNION ALL
                  SELECT doc_b FROM e)
            GROUP BY v
        ), gstats AS (
            SELECT CAST(COALESCE((SELECT count(*) FROM tri), 0)
                        AS BIGINT) AS n_triangles,
                   CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
            FROM deg
        )
        SELECT deg.v AS doc_id, deg.d AS degree,
               COALESCE(tri_v.t, 0) AS n_triangles,
               CAST(2000 * COALESCE(tri_v.t, 0)
                    // (deg.d * (deg.d - 1)) AS BIGINT)
                   AS local_cc_permille,
               CASE WHEN g.n_wedges = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(3000 * g.n_triangles // g.n_wedges
                              AS BIGINT)
               END AS transitivity_permille
        FROM deg
        LEFT JOIN tri_v ON tri_v.v = deg.v
        CROSS JOIN gstats g
        WHERE deg.d >= 2
        ORDER BY doc_id
    """


@register(
    "graph_clustering_coefficient",
    oracle=_cc_oracle(),
    tags=("dedup", "graph", "llm", "scale", "slow"),
    doc="Watts-Strogatz local clustering coefficient per node of the "
    "MinHash-LSH near-dup candidate graph (2*tri_v / deg_v*(deg_v-1) "
    "for deg>=2) plus the global transitivity 3*T/#wedges broadcast "
    "onto every row — the template-family density diagnostic: cc ~ "
    "1000 components are boilerplate cliques pairwise dedup "
    "underestimates, low-cc hubs are banding chain artifacts. "
    "Triangles ride the same compact-forward x<y<z 3-join as "
    "graph_triangle_enumerate (each triangle credited to its three "
    "corners via one explode-union rollup); degrees and the wedge "
    "total are one endpoint-union aggregation. The statistic stack "
    "is O(edges) + O(triangles) on the post-banding graph — the "
    "corpus never re-enters after candidate generation.",
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The LSH candidate subtree is consumed FIVE times (three triangle
    # arms + both degree arms) and the triangle set four more (tri_v's
    # three arms + n_tri); unpinned, both recomputed per consumer (32
    # parquet scans in the plan). Lazy pins: e is the banded candidate
    # set (budgeted in SCALE.md §2), tri is bounded by it.
    e = (
        dedup.minhash_lsh_candidate_pairs(docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("x"),
            F.col("e1.doc_b").alias("y"),
            F.col("e2.doc_b").alias("z"),
        )
        .localCheckpoint(eager=False)
    )
    tri_v = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    glob = (
        deg.agg(
            F.expr("CAST(sum(d * (d - 1) div 2) AS BIGINT)").alias(
                "n_wedges"
            )
        )
        .crossJoin(F.broadcast(n_tri))
        .select(
            F.coalesce("n_triangles", F.lit(0).cast("long")).alias(
                "n_tri_total"
            ),
            "n_wedges",
        )
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri_v, "v", "left")
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("v").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0).cast("long")).alias("n_triangles"),
            F.expr(
                "CAST(2000 * COALESCE(t, 0) div (d * (d - 1)) AS BIGINT)"
            ).alias("local_cc_permille"),
            F.expr(
                "CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(3000 * n_tri_total div n_wedges AS BIGINT)"
                " END"
            ).alias("transitivity_permille"),
        )
        .orderBy("doc_id")
    )


# --- ROUGE-1/2 scoring of near-dup candidate pairs ----------------------------
#
# Summarization-metric grading of the dedup candidates: for every
# MinHash-LSH candidate pair, clipped unigram (ROUGE-1) and bigram
# (ROUGE-2) overlap — match = sum over grams of min(count_a, count_b),
# the clipping that stops a repeated token from double-counting — as
# exact permille precision/recall/F1. The cross-check arm for the
# Jaccard-family verifiers: Jaccard scores SET overlap, ROUGE scores
# MULTISET overlap with direction, so templated docs with repeated
# boilerplate separate differently. Candidate-pair-bounded like every
# verifier in this family: grams join only within surviving pairs.


def _rouge_oracle() -> str:
    return f"""
        WITH e AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()})
        ), toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ), uni AS (
            SELECT doc_id, unnest(list_filter(ts, x -> x <> '')) AS g
            FROM toks
        ), uni_c AS (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
            FROM uni GROUP BY doc_id, g
        ), bi AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i + 1])) AS g
            FROM toks WHERE len(ts) >= 2
        ), bi_c AS (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
            FROM bi GROUP BY doc_id, g
        ), tot AS (
            SELECT doc_id,
                   (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT)
                    FROM uni_c u WHERE u.doc_id = t.doc_id) AS n_uni,
                   (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT)
                    FROM bi_c b WHERE b.doc_id = t.doc_id) AS n_bi
            FROM (SELECT DISTINCT doc_id FROM uni_c) t
        ), m1 AS (
            SELECT e.doc_a, e.doc_b,
                   CAST(COALESCE(sum(least(a.c, b.c)), 0) AS BIGINT)
                       AS match1
            FROM e
            LEFT JOIN uni_c a ON a.doc_id = e.doc_a
            LEFT JOIN uni_c b ON b.doc_id = e.doc_b AND b.g = a.g
            GROUP BY e.doc_a, e.doc_b
        ), m2 AS (
            SELECT e.doc_a, e.doc_b,
                   CAST(COALESCE(sum(least(a.c, b.c)), 0) AS BIGINT)
                       AS match2
            FROM e
            LEFT JOIN bi_c a ON a.doc_id = e.doc_a
            LEFT JOIN bi_c b ON b.doc_id = e.doc_b AND b.g = a.g
            GROUP BY e.doc_a, e.doc_b
        )
        SELECT m1.doc_a, m1.doc_b, m1.match1, m2.match2,
               CAST(1000 * m1.match1 // ta.n_uni AS BIGINT)
                   AS rouge1_prec_permille,
               CAST(1000 * m1.match1 // tb.n_uni AS BIGINT)
                   AS rouge1_rec_permille,
               CAST(2000 * m1.match1 // (ta.n_uni + tb.n_uni) AS BIGINT)
                   AS rouge1_f1_permille,
               CASE WHEN ta.n_bi = 0 OR tb.n_bi = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(2000 * m2.match2 // (ta.n_bi + tb.n_bi)
                              AS BIGINT)
               END AS rouge2_f1_permille
        FROM m1
        JOIN m2 ON m2.doc_a = m1.doc_a AND m2.doc_b = m1.doc_b
        JOIN tot ta ON ta.doc_id = m1.doc_a
        JOIN tot tb ON tb.doc_id = m1.doc_b
        ORDER BY m1.doc_a, m1.doc_b
    """


@register(
    "eval_rouge_near_dup_pairs",
    oracle=_rouge_oracle(),
    tags=("dedup", "eval", "llm", "text", "slow"),
    doc="ROUGE-1/ROUGE-2 grading of every MinHash-LSH candidate pair: "
    "clipped n-gram overlap (match = sum of min(count_a, count_b) — "
    "the clipping that stops repeated tokens double-counting) as "
    "exact permille precision/recall/F1. The MULTISET-overlap "
    "cross-check for the Jaccard-family verifiers: Jaccard scores "
    "set overlap, so boilerplate-heavy templates with repeated "
    "tokens separate differently under ROUGE — a pair with high "
    "Jaccard but low ROUGE-2 F1 shares vocabulary, not phrasing. "
    "Candidate-pair-bounded like every verifier in the family: the "
    "gram-count relations join only within LSH-surviving pairs, and "
    "the n-gram counts are one map-side-combinable rollup each — "
    "the corpus never self-joins.",
)
def eval_rouge_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    e = dedup.minhash_lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    uni_c = (
        toks.select(
            "doc_id",
            F.explode(F.expr("filter(ts, x -> x <> '')")).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bi_c = (
        toks.filter(F.expr("size(ts) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> concat(ts[i - 1], ' ', ts[i]))"
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = (
        uni_c.groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("n_uni"))
        .join(
            bi_c.groupBy("doc_id").agg(
                F.sum("c").cast("long").alias("n_bi")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_uni",
            F.coalesce("n_bi", F.lit(0).cast("long")).alias("n_bi"),
        )
    )

    def clipped(grams, out):
        a = grams.select(
            F.col("doc_id").alias("doc_a"),
            "g",
            F.col("c").alias("ca"),
        )
        b = grams.select(
            F.col("doc_id").alias("doc_b"),
            "g",
            F.col("c").alias("cb"),
        )
        return (
            e.join(a, "doc_a", "left")
            .join(b, ["doc_b", "g"], "left")
            .groupBy("doc_a", "doc_b")
            .agg(
                F.expr(
                    "CAST(COALESCE(sum(least(ca, cb)), 0) AS BIGINT)"
                ).alias(out)
            )
        )

    m1 = clipped(uni_c, "match1")
    m2 = clipped(bi_c, "match2")
    return (
        m1.join(m2, ["doc_a", "doc_b"])
        .join(
            tot.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_uni").alias("na_uni"),
                F.col("n_bi").alias("na_bi"),
            ),
            "doc_a",
        )
        .join(
            tot.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_uni").alias("nb_uni"),
                F.col("n_bi").alias("nb_bi"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "match1",
            "match2",
            F.expr("CAST(1000 * match1 div na_uni AS BIGINT)").alias(
                "rouge1_prec_permille"
            ),
            F.expr("CAST(1000 * match1 div nb_uni AS BIGINT)").alias(
                "rouge1_rec_permille"
            ),
            F.expr(
                "CAST(2000 * match1 div (na_uni + nb_uni) AS BIGINT)"
            ).alias("rouge1_f1_permille"),
            F.expr(
                "CASE WHEN na_bi = 0 OR nb_bi = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(2000 * match2 div (na_bi + nb_bi) AS BIGINT)"
                " END"
            ).alias("rouge2_f1_permille"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- dedup-method agreement audit ----------------------------------------------
#
# Do MinHash-LSH and SimHash agree on WHICH pairs are near-dups?
# The two families sample different similarity structure (shingle-set
# Jaccard vs hyperplane cosine on token frequencies), so their
# candidate sets diverge exactly where dedup policy is riskiest. The
# audit reports |A|, |B|, the intersection, Jaccard and Dice overlap
# of the PAIR SETS, and the split of disagreements — one full outer
# join of two already-tiny candidate relations. High agreement means
# either detector alone suffices; skewed disagreement says which
# recall profile the corpus actually exercises.


def _method_agreement_oracle() -> str:
    return f"""
        WITH mh AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()})
        ), fp AS (
            {dedup.simhash_oracle_sql(bits=32)}
        ), banded AS (
            SELECT doc_id, b.band,
                   (simhash // CAST(2 ** (8 * b.band) AS BIGINT)) % 256
                       AS byte_sig,
                   simhash
            FROM fp, (VALUES (0), (1), (2), (3)) AS b(band)
        ), sh AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.byte_sig = b.byte_sig
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ), u AS (
            SELECT COALESCE(m.doc_a, s.doc_a) AS doc_a,
                   COALESCE(m.doc_b, s.doc_b) AS doc_b,
                   m.doc_a IS NOT NULL AS in_mh,
                   s.doc_a IS NOT NULL AS in_sh
            FROM mh m
            FULL OUTER JOIN sh s
              ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b
        )
        SELECT CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_minhash,
               CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_simhash,
               CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_minhash_only,
               CAST(sum(CASE WHEN in_sh AND NOT in_mh THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_simhash_only,
               CAST(1000 * sum(CASE WHEN in_mh AND in_sh
                                    THEN 1 ELSE 0 END)
                    // count(*) AS BIGINT) AS jaccard_permille,
               CAST(2000 * sum(CASE WHEN in_mh AND in_sh
                                    THEN 1 ELSE 0 END)
                    // (sum(CASE WHEN in_mh THEN 1 ELSE 0 END)
                        + sum(CASE WHEN in_sh THEN 1 ELSE 0 END))
                    AS BIGINT) AS dice_permille
        FROM u
    """


@register(
    "eval_dedup_method_agreement",
    oracle=_method_agreement_oracle(),
    tags=("dedup", "eval", "llm", "slow"),
    doc="Method-agreement audit between the two near-dup detector "
    "families: MinHash-LSH (shingle-set Jaccard) vs SimHash byte-"
    "blocked Hamming<=3 (hyperplane cosine on token frequencies) — "
    "pair-set Jaccard/Dice overlap plus the disagreement split. The "
    "detectors sample DIFFERENT similarity structure, so their "
    "divergence marks exactly the pairs where dedup policy is "
    "riskiest; high agreement licenses running one detector alone, "
    "and a skewed split says which recall profile the corpus "
    "exercises. One full outer join of two already-banded candidate "
    "relations (both orders of magnitude smaller than the corpus); "
    "both detector pipelines are the registered production operators "
    "reused verbatim.",
)
def eval_dedup_method_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mh = dedup.minhash_lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    fp = dedup.simhash(docs, bits=32)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).withColumn(
        "byte_sig",
        F.expr("(simhash div shiftleft(1L, 8 * band)) % 256"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        "band",
        "byte_sig",
        F.col("simhash").alias("sh_a"),
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        "band",
        "byte_sig",
        F.col("simhash").alias("sh_b"),
    )
    sh = (
        a.join(b, ["band", "byte_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 3
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    u = mh.withColumn("in_mh", F.lit(True)).join(
        sh.withColumn("in_sh", F.lit(True)),
        ["doc_a", "doc_b"],
        "full_outer",
    ).select(
        F.coalesce("in_mh", F.lit(False)).alias("in_mh"),
        F.coalesce("in_sh", F.lit(False)).alias("in_sh"),
    )
    return u.agg(
        F.expr("CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_minhash"
        ),
        F.expr("CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_simhash"
        ),
        F.expr(
            "CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_both"),
        F.expr(
            "CAST(sum(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_minhash_only"),
        F.expr(
            "CAST(sum(CASE WHEN in_sh AND NOT in_mh THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_simhash_only"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0"
            " END) div count(1) AS BIGINT)"
        ).alias("jaccard_permille"),
        F.expr(
            "CAST(2000 * sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0"
            " END) div (sum(CASE WHEN in_mh THEN 1 ELSE 0 END)"
            " + sum(CASE WHEN in_sh THEN 1 ELSE 0 END)) AS BIGINT)"
        ).alias("dice_permille"),
    )


# --- k-truss decomposition (k=4) over the near-dup graph -------------------------
#
# The cohesion filter between triangles and cliques: the k-truss is
# the maximal subgraph where EVERY edge sits in >= k-2 triangles
# (Cohen) — cheaper than clique mining, stricter than k-core (a
# 4-truss edge needs 2 triangles; a 4-core node just needs 4
# neighbors). On the near-dup graph the 4-truss isolates the
# template/boilerplate CORES whose every pair-relation is
# triangle-supported — exactly the families safe to collapse to one
# exemplar. Peeling: support per edge via the compact-forward x<y<z
# triangle join (each triangle credits its three edges), drop edges
# below support 2, repeat — support only DECREASES, so each round is
# a monotone filter; 4 fixed rounds peel any graph whose truss
# settles in <=4 waves (the LSH graph settles in 2; production runs
# the count-gated fixpoint loop the CC operator uses).

_KTRUSS_K = 4
_KTRUSS_ROUNDS = 4


def _ktruss_oracle() -> str:
    ctes = [
        f"e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM "
        f"({dedup.minhash_lsh_oracle_sql()}))"
    ]
    for i in range(_KTRUSS_ROUNDS):
        ctes.append(f"""tri{i} AS MATERIALIZED (
            SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
            FROM e{i} e1
            JOIN e{i} e2 ON e2.doc_a = e1.doc_b
            JOIN e{i} e3 ON e3.doc_a = e1.doc_a
                        AND e3.doc_b = e2.doc_b
        ), sup{i} AS MATERIALIZED (
            SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS support
            FROM (
                SELECT x AS doc_a, y AS doc_b FROM tri{i}
                UNION ALL SELECT y, z FROM tri{i}
                UNION ALL SELECT x, z FROM tri{i}
            ) GROUP BY doc_a, doc_b
        ), e{i + 1} AS MATERIALIZED (
            SELECT e.doc_a, e.doc_b
            FROM e{i} e JOIN sup{i} s
              ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
            WHERE s.support >= {_KTRUSS_K - 2}
        )""")
    last = _KTRUSS_ROUNDS
    return f"""
        WITH {", ".join(ctes)},
        tri_f AS MATERIALIZED (
            SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
            FROM e{last} e1
            JOIN e{last} e2 ON e2.doc_a = e1.doc_b
            JOIN e{last} e3 ON e3.doc_a = e1.doc_a
                           AND e3.doc_b = e2.doc_b
        ), sup_f AS MATERIALIZED (
            SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS support
            FROM (
                SELECT x AS doc_a, y AS doc_b FROM tri_f
                UNION ALL SELECT y, z FROM tri_f
                UNION ALL SELECT x, z FROM tri_f
            ) GROUP BY doc_a, doc_b
        )
        SELECT e.doc_a, e.doc_b, s.support
        FROM e{last} e JOIN sup_f s
          ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
        ORDER BY e.doc_a, e.doc_b
    """


@register(
    "graph_ktruss_edges",
    oracle=_ktruss_oracle(),
    tags=("dedup", "graph", "llm", "scale"),
    doc="4-truss decomposition of the MinHash-LSH near-dup graph "
    "(Cohen): peel edges whose triangle support drops below k-2=2 "
    "until stable — the cohesion filter between triangle counting "
    "and clique mining, and stricter than k-core (a 4-truss edge "
    "needs 2 supporting triangles, not just 4 neighbors). The "
    "surviving edges mark template/boilerplate CORES whose every "
    "pair is triangle-supported — the families safe to collapse to "
    "one exemplar. Each peel round is the compact-forward x<y<z "
    "triangle join + a 3-way edge-credit rollup + a monotone filter "
    "(support only decreases); 4 fixed rounds with per-round "
    "localCheckpoint (the LSH graph settles in 2; production runs "
    "the count-gated fixpoint loop the CC operator uses). All work "
    "is on the post-banding edge list — the corpus never re-enters.",
)
def graph_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    e = (
        dedup.minhash_lsh_candidate_pairs(docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )

    def support(edges):
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
            .join(
                e3,
                (F.col("e3.doc_a") == F.col("e1.doc_a"))
                & (F.col("e3.doc_b") == F.col("e2.doc_b")),
            )
            .select(
                F.col("e1.doc_a").alias("x"),
                F.col("e1.doc_b").alias("y"),
                F.col("e2.doc_b").alias("z"),
            )
        )
        credits = (
            tri.select(F.col("x").alias("doc_a"), F.col("y").alias("doc_b"))
            .unionAll(
                tri.select(
                    F.col("y").alias("doc_a"), F.col("z").alias("doc_b")
                )
            )
            .unionAll(
                tri.select(
                    F.col("x").alias("doc_a"), F.col("z").alias("doc_b")
                )
            )
        )
        return credits.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).cast("long").alias("support")
        )

    for _ in range(_KTRUSS_ROUNDS):
        sup = support(e)
        e = (
            e.join(sup, ["doc_a", "doc_b"])
            .filter(F.col("support") >= _KTRUSS_K - 2)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    final_sup = support(e)
    return (
        e.join(final_sup, ["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "support")
        .orderBy("doc_a", "doc_b")
    )


# --- near-dup rate by source ---------------------------------------------------------
#
# The curation dashboard's first question: WHICH shard is duplicated?
# Per source: how many docs participate in at least one MinHash-LSH
# candidate pair (distinct union of both endpoints), the dup-rate
# permille, and how many of the source's pair endpoints cross INTO a
# different source — cross-source duplication means a template shared
# between shards (dedup must run globally), same-source duplication
# can be handled shard-locally. Rides the production candidate
# generator; everything after it is per-source rollups.


def _dup_by_source_oracle() -> str:
    return f"""
        WITH e AS (
            SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_oracle_sql()})
        ), src AS (
            SELECT doc_id, source FROM documents
        ), ends AS (
            SELECT e.doc_a AS doc_id, sb.source AS other_source
            FROM e
            JOIN src sb ON sb.doc_id = e.doc_b
            UNION ALL
            SELECT e.doc_b, sa.source
            FROM e
            JOIN src sa ON sa.doc_id = e.doc_a
        ), marked AS (
            SELECT s.source, en.doc_id,
                   max(CASE WHEN en.other_source <> s.source
                            THEN 1 ELSE 0 END) AS crosses
            FROM ends en JOIN src s ON s.doc_id = en.doc_id
            GROUP BY s.source, en.doc_id
        ), per_src AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_dup_docs,
                   CAST(sum(crosses) AS BIGINT) AS n_cross_source
            FROM marked GROUP BY source
        ), totals AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM src GROUP BY source
        )
        SELECT t.source, t.n_docs,
               COALESCE(p.n_dup_docs, 0) AS n_dup_docs,
               COALESCE(p.n_cross_source, 0) AS n_cross_source,
               CAST(1000 * COALESCE(p.n_dup_docs, 0) // t.n_docs
                    AS BIGINT) AS dup_rate_permille
        FROM totals t LEFT JOIN per_src p ON p.source = t.source
        ORDER BY t.source
    """


@register(
    "corpus_dup_rate_by_source",
    oracle=_dup_by_source_oracle(),
    tags=("dedup", "llm", "quality"),
    doc="Near-dup rate per source — the curation dashboard's first "
    "question (WHICH shard is duplicated, and is the duplication "
    "shard-local or cross-shard?): per source, the distinct docs "
    "participating in any MinHash-LSH candidate pair, the dup-rate "
    "permille, and how many of those docs pair INTO a different "
    "source — cross-source duplication means a template shared "
    "between shards, so dedup must run globally; same-source "
    "duplication can be handled shard-locally (the partitioning "
    "decision this report drives at 100 TB). Rides the production "
    "candidate generator verbatim; the analysis is two endpoint "
    "joins + per-source rollups on the post-banding pair list.",
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    e = dedup.minhash_lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    ends = (
        e.join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("other_source"),
            ),
            "doc_b",
        )
        .select(F.col("doc_a").alias("doc_id"), "other_source")
        .unionByName(
            e.join(
                src.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("other_source"),
                ),
                "doc_a",
            ).select(F.col("doc_b").alias("doc_id"), "other_source")
        )
    )
    marked = (
        ends.join(src, "doc_id")
        .groupBy("source", "doc_id")
        .agg(
            F.max(
                F.expr(
                    "CASE WHEN other_source <> source THEN 1 ELSE 0 END"
                )
            ).alias("crosses")
        )
    )
    per_src = marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_docs"),
        F.sum("crosses").cast("long").alias("n_cross_source"),
    )
    totals = src.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        totals.join(per_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_dup_docs", F.lit(0).cast("long")).alias(
                "n_dup_docs"
            ),
            F.coalesce("n_cross_source", F.lit(0).cast("long")).alias(
                "n_cross_source"
            ),
            F.expr(
                "CAST(1000 * COALESCE(n_dup_docs, 0) div n_docs"
                " AS BIGINT)"
            ).alias("dup_rate_permille"),
        )
        .orderBy("source")
    )
