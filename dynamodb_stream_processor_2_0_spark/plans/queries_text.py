"""Text-analysis + multimodal-plumbing queries over ``documents``
(LLM-pipeline extension operators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dynamodb_stream_processor_2_0_spark.functions import text as TX
from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

_STOP_SQL = {
    lang: ", ".join(f"'{w}'" for w in words) for lang, words in TX.STOPWORDS.items()
}


@register(
    "text_token_stats",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(regexp_extract_all(text, '[a-z]+')) AS n_words,
               length(text) AS n_chars_measured,
               CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
                   AS chars_per_token
        FROM documents
    """,
    tags=("text", "llm"),
    doc="Token counting: whitespace tokens + regex word runs + ratio.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return df.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.word_count_regex(t).alias("n_words"),
        F.length(t).alias("n_chars_measured"),
        (F.length(t).cast("double") / TX.token_count(t)).alias("chars_per_token"),
    )


@register(
    "text_langid_heuristic",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks,
                   length(text) - length(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'))
                       AS n_non_ascii
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, n_non_ascii,
                   len(list_filter(toks, t -> t IN ({_STOP_SQL['en']}))) AS score_en,
                   len(list_filter(toks, t -> t IN ({_STOP_SQL['es']}))) AS score_es,
                   len(list_filter(toks, t -> t IN ({_STOP_SQL['de']}))) AS score_de,
                   len(list_filter(toks, t -> t IN ({_STOP_SQL['fr']}))) AS score_fr
            FROM toks
        )
        SELECT doc_id, lang,
               CASE
                   WHEN n_non_ascii > 0 THEN 'zh'
                   WHEN score_en >= score_es AND score_en >= score_de
                        AND score_en >= score_fr AND score_en > 0 THEN 'en'
                   WHEN score_es >= score_de AND score_es >= score_fr
                        AND score_es > 0 THEN 'es'
                   WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
                   WHEN score_fr > 0 THEN 'fr'
                   ELSE 'unknown'
               END AS predicted_lang
        FROM scored
    """,
    tags=("text", "llm"),
    doc="Language-ID heuristic: non-ASCII signal + stopword voting with fixed precedence.",
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    scores = TX.lang_scores("toks")
    df = df.withColumn("n_non_ascii", TX.non_ascii_count(F.col("text")))
    for lang, col in scores.items():
        df = df.withColumn(f"score_{lang}", col)
    en, es, de, fr = (F.col(f"score_{x}") for x in ("en", "es", "de", "fr"))
    predicted = (
        F.when(F.col("n_non_ascii") > 0, "zh")
        .when((en >= es) & (en >= de) & (en >= fr) & (en > 0), "en")
        .when((es >= de) & (es >= fr) & (es > 0), "es")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )
    return df.select("doc_id", "lang", predicted.alias("predicted_lang"))


@register(
    "text_quality_score",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   length(text) AS n_chars,
                   len(list_filter(string_split(text, ' '),
                                   t -> t IN ({_STOP_SQL['en']}))) AS n_stop,
                   length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                       AS n_punct
            FROM documents
        )
        SELECT doc_id, n_tokens, n_stop, n_punct,
               (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5
                   + (CAST(n_chars AS DOUBLE) / (n_chars + 100.0)) * 0.4
                   + (CAST(n_punct AS DOUBLE) / n_tokens) * 0.1
                   AS quality_score
        FROM feats
    """,
    tags=("text", "llm"),
    doc="Quality scoring: stopword ratio + length saturation + punctuation density.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    feats = df.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        F.expr(
            "size(filter(split(text, ' '), t -> t IN ({})))".format(_STOP_SQL["en"])
        ).alias("n_stop"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))).alias(
            "n_punct"
        ),
    )
    score = (
        (F.col("n_stop").cast("double") / F.col("n_tokens")) * 0.5
        + (F.col("n_chars").cast("double") / (F.col("n_chars") + F.lit(100.0))) * 0.4
        + (F.col("n_punct").cast("double") / F.col("n_tokens")) * 0.1
    )
    return feats.select(
        "doc_id", "n_tokens", "n_stop", "n_punct", score.alias("quality_score")
    )


@register(
    "doc_fingerprint",
    oracle="""
        WITH norm AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        )
        SELECT doc_id, fp,
               CAST(list_sum(list_transform(range(8), c ->
                   (strpos('0123456789abcdef', substr(fp, c + 1, 1)) - 1)
                   * (16 ** (7 - c)))) AS BIGINT) AS fp_bucket
        FROM norm
    """,
    tags=("text", "llm", "dedup"),
    doc="Content fingerprint (md5 of normalized text) + BIGINT shard bucket.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    fp = TX.fingerprint(F.col("text"))
    return df.select(
        "doc_id", fp.alias("fp"), TX.fingerprint_bucket(fp).alias("fp_bucket")
    )


@register(
    "multimodal_binary_meta",
    oracle="""
        WITH bin AS (
            SELECT doc_id, encode(text) AS payload, source FROM documents
        )
        SELECT doc_id,
               octet_length(payload) AS n_bytes,
               lower(hex(encode(substr(source, 1, 4)))) AS magic_hex,
               CASE WHEN octet_length(payload) >= 256 THEN 'large'
                    ELSE 'small' END AS size_class
        FROM bin
    """,
    tags=("multimodal", "llm"),
    doc="Multimodal plumbing: opaque binary payload + typed metadata (length, magic bytes, size class).",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents.text stands in for an opaque media payload; the point is
    # the binary-column plumbing (encode -> BinaryType -> byte-level
    # metadata), which is exactly what an image/audio column needs.
    df = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return df.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.lower(F.hex(F.encode(F.substring("source", 1, 4), "UTF-8"))).alias(
            "magic_hex"
        ),
        F.when(F.octet_length(payload) >= 256, "large")
        .otherwise("small")
        .alias("size_class"),
    )


@register(
    "corpus_curation_pipeline",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id, lang,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   len(string_split(text, ' ')) AS n_tokens,
                   length(text) AS n_chars,
                   len(list_filter(string_split(text, ' '),
                                   t -> t IN ({_STOP_SQL['en']}))) AS n_stop,
                   length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                       AS n_punct
            FROM documents
        ), ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS dup_rn,
                   (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5
                       + (CAST(n_chars AS DOUBLE) / (n_chars + 100.0)) * 0.4
                       + (CAST(n_punct AS DOUBLE) / n_tokens) * 0.1 AS quality_score
            FROM feats
        )
        SELECT doc_id, lang, n_tokens, quality_score,
               CASE
                   WHEN dup_rn > 1 THEN 'dropped_duplicate'
                   WHEN n_tokens < 15 THEN 'dropped_short'
                   WHEN quality_score < 0.30 THEN 'dropped_low_quality'
                   ELSE 'kept'
               END AS disposition
        FROM ranked
    """,
    tags=("text", "llm", "dedup", "pipeline", "F12"),
    doc="Corpus curation composite: exact-dup rank + token floor + quality floor "
    "in one tag-don't-drop ledger (the reference's F12 disposition pattern "
    "applied to a training-data pipeline).",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, one window shuffle on the content fingerprint, zero
    Python: the composite every LLM data pipeline runs before training.
    At 100 TB the fp window is the only wide edge (32-byte keys), and
    each rule stays a column expression — adding a rule costs nothing."""
    from pyspark.sql import Window as W

    df = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    feats = df.select(
        "doc_id",
        "lang",
        TX.fingerprint(t).alias("fp"),
        TX.token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        F.expr(
            "size(filter(split(text, ' '), t -> t IN ({})))".format(_STOP_SQL["en"])
        ).alias("n_stop"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))).alias("n_punct"),
    )
    ranked = feats.withColumn(
        "dup_rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    ).withColumn(
        "quality_score",
        (F.col("n_stop").cast("double") / F.col("n_tokens")) * 0.5
        + (F.col("n_chars").cast("double") / (F.col("n_chars") + F.lit(100.0))) * 0.4
        + (F.col("n_punct").cast("double") / F.col("n_tokens")) * 0.1,
    )
    disposition = (
        F.when(F.col("dup_rn") > 1, "dropped_duplicate")
        .when(F.col("n_tokens") < 15, "dropped_short")
        .when(F.col("quality_score") < 0.30, "dropped_low_quality")
        .otherwise("kept")
    )
    return ranked.select(
        "doc_id", "lang", "n_tokens", "quality_score", disposition.alias("disposition")
    )


@register(
    "text_ngram_topk",
    oracle="""
        WITH toks AS (
            SELECT lang, string_split(text, ' ') AS toks FROM documents
        ), grams AS (
            SELECT lang,
                   unnest(list_transform(range(greatest(len(toks) - 2, 0)),
                          i -> concat(toks[i + 1], ' ', toks[i + 2], ' ', toks[i + 3])))
                       AS gram
            FROM toks
        ), counted AS (
            SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram
        )
        SELECT lang, gram, n FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY n DESC, gram) AS rn
            FROM counted
        ) WHERE rn <= 10
    """,
    tags=("text", "llm"),
    doc="Corpus statistics: top-10 3-grams per language (explode -> count -> windowed rank, deterministic tiebreak).",
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-distinct 3-grams (frequency statistics, unlike the dedup
    shingles which are distinct per doc). Count is map-side combined on
    (lang, gram); only per-gram partials shuffle."""
    from pyspark.sql import Window as W

    df = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    grams = df.select(
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), "
                "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    counted = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), "gram")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "gram", "n")
    )


@register(
    "sample_stratified_documents",
    oracle="""
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(concat('sample:', doc_id)), 1, 8))
                    AS BIGINT) AS h
        FROM documents
        WHERE CAST(concat('0x', substr(md5(concat('sample:', doc_id)), 1, 8))
                   AS BIGINT) % 100 < 10
    """,
    tags=("text", "llm", "sampling"),
    doc="Deterministic 10% stratum-free sample via md5 hash threshold: reproducible across runs/engines (rand() is not), filter fully pushed to the scan.",
)
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold sampling — the training-data way to sample: the
    same doc always lands in the same split (stable across reruns,
    engines, and cluster sizes), unlike rand()-based df.sample. Rate
    changes are monotone (raising 10->20% keeps the old sample as a
    subset) which makes dataset scaling reproducible."""
    df = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id"))), 1, 8), 16, 10
    ).cast("bigint")
    return df.select("doc_id", "lang", h.alias("h")).filter(F.col("h") % 100 < 10)


@register(
    "text_length_histogram",
    oracle="""
        SELECT lang,
               CAST(least(len(string_split(text, ' ')) // 50, 9) AS INTEGER)
                   AS bucket,
               CAST(least(len(string_split(text, ' ')) // 50, 9) * 50 AS INTEGER)
                   AS bucket_lo,
               count(*) AS n_docs,
               CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
                   AS total_tokens
        FROM documents
        GROUP BY 1, 2, 3
    """,
    tags=("text", "llm", "histogram"),
    doc="Token-length histogram per language (fixed-width buckets, capped tail) — the length-distribution profile every corpus audit starts with.",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    bucket = F.least(F.floor(n_tokens / 50), F.lit(9)).cast("int")
    return df.groupBy(
        "lang", bucket.alias("bucket"), (bucket * 50).cast("int").alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens.cast("bigint")).alias("total_tokens"),
    )


@register(
    "corpus_shuffle_interleave",
    oracle="""
        WITH keyed AS (
            SELECT doc_id, source,
                   md5(concat('shuffle:', doc_id)) AS shuffle_key,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY md5(concat('shuffle:', doc_id)))
                       AS pos_in_source
            FROM documents
        )
        SELECT doc_id, source, shuffle_key, pos_in_source,
               ROW_NUMBER() OVER (ORDER BY pos_in_source, source, doc_id)
                   AS global_pos
        FROM keyed
    """,
    tags=("text", "llm", "sampling"),
    doc="Deterministic corpus shuffle + per-source round-robin interleave: md5 order key, rank within source, then (round, source) global order — reproducible epoch ordering for training.",
)
def corpus_shuffle_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-epoch ordering: documents get a reproducible
    pseudo-random order inside each source (md5 key, not rand()), then
    sources are interleaved round-robin so a sequential reader sees a
    balanced mix. The global position uses operators/ranking.py
    global_rank — range-partitioned local ranks + broadcast offsets —
    NOT a single-partition Window.orderBy, which would funnel the whole
    corpus through one task at scale."""
    from pyspark.sql import Window as W

    from dynamodb_stream_processor_2_0_spark.operators.ranking import global_rank

    df = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id")))
    keyed = df.select("doc_id", "source", key.alias("shuffle_key")).withColumn(
        "pos_in_source",
        F.row_number().over(W.partitionBy("source").orderBy("shuffle_key")),
    )
    return global_rank(
        keyed, ["pos_in_source", "source", "doc_id"], out_col="global_pos"
    ).select("doc_id", "source", "shuffle_key", "pos_in_source", "global_pos")


# GPT-2-style pre-tokenizer classes, minus the lookarounds neither
# Java regex nor RE2 needs here: letter runs, digit runs, single
# non-alnum-non-space marks, with an optional leading space absorbed
# into the token (the BPE "word with leading space" convention).
_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@register(
    "text_bpe_token_count",
    oracle=f"""
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}'))
                    AS INTEGER) AS n_bpe_tokens,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
                   / greatest(len(string_split(text, ' ')), 1)
                   AS bpe_per_word
        FROM documents
    """,
    tags=("text", "llm", "tokenize"),
    doc="BPE-style token counting: GPT-2-ish pre-tokenizer regex (letter runs, "
    "digit runs, punctuation runs, leading-space absorption) vs whitespace "
    "tokens — the tokens-per-word ratio every training-data budget uses.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all stays JVM-side (no Python UDF in the hot
    path); the pattern uses only character classes that Java regex and
    RE2 interpret identically."""
    df = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0)))
    n_ws = F.size(F.split("text", " "))
    return df.select(
        "doc_id",
        "lang",
        n_bpe.cast("int").alias("n_bpe_tokens"),
        n_ws.cast("int").alias("n_ws_tokens"),
        (n_bpe.cast("double") / F.greatest(n_ws, F.lit(1))).alias("bpe_per_word"),
    )


_EMAIL_PAT = r"[a-z0-9._]+@[a-z0-9.]+\.[a-z][a-z]+"
_PHONE_PAT = r"[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


@register(
    "text_pii_redaction",
    oracle=f"""
        WITH injected AS (
            SELECT doc_id,
                   'contact u' || CAST(doc_id AS VARCHAR)
                       || '@mail.example.com or 555-123-4567 ' || text
                       AS raw
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '{_EMAIL_PAT}'))
                    AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(raw, '{_PHONE_PAT}'))
                    AS INTEGER) AS n_phones,
               md5(regexp_replace(regexp_replace(raw, '{_EMAIL_PAT}',
                       '[EMAIL]', 'g'), '{_PHONE_PAT}', '[PHONE]', 'g'))
                   AS redacted_md5
        FROM injected
    """,
    tags=("text", "llm", "pii", "F8"),
    doc="PII redaction for training-data curation: scrub email/phone "
    "patterns to typed placeholders and count matches — the inverse of "
    "the reference's email validation F8 (index.js:400-403). The corpus "
    "is synthetic, so a deterministic per-doc email+phone is injected "
    "first; the oracle injects and redacts identically in DuckDB.",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure JVM expressions (regexp_replace / regexp_extract_all) — at
    100 TB redaction is a map-only stage with zero shuffle, limited
    only by scan + regex throughput. The patterns use only literal
    classes and bounded constructs so Java regex and RE2 (DuckDB) agree;
    Spark's regexp_replace is replace-ALL by default, DuckDB needs the
    'g' flag. Output is md5(redacted) not the text itself: smaller gate
    payload, and any escaping divergence still changes the hash."""
    df = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-123-4567 "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_PAT, "[EMAIL]"), _PHONE_PAT, "[PHONE]"
    )
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_PAT), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_PAT), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "text_token_packing",
    oracle="""
        WITH sized AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        )
        SELECT doc_id, source, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY source
                         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) - n_tokens) / 2048) AS BIGINT)
                   AS pack_id
        FROM sized
    """,
    tags=("text", "llm", "packing"),
    doc="Sequence packing for training: documents assigned to ~2048-token "
    "packs per source by running-token-offset (offset div budget — the "
    "streaming form of greedy packing, exactly reproducible and "
    "SQL-expressible, unlike bin-packing heuristics).",
)
def text_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window per source partition — packing parallelizes across
    sources (at 100 TB, across shards: the partition key would be
    (source, shard) with per-shard token budgets). Integer token counts
    make the running sum exact; pack_id = prior-tokens div budget means
    a doc spanning a boundary starts the next pack, never splits."""
    from pyspark.sql import Window as W

    df = load_table(spark, sf_dir, "documents")
    sized = df.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return sized.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048).cast(
            "long"
        ),
    )


_BENCH_SOURCES = ("src0", "src1")


@register(
    "text_benchmark_contamination",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks
            FROM documents
        ), shingled AS (
            SELECT doc_id, source, unnest(list_distinct(list_transform(range(greatest(len(toks) - 2, 0)), i -> concat(toks[i + 1], ' ', toks[i + 2], ' ', toks[i + 3])))) AS shingle
            FROM toks
        ), bench AS (
            SELECT DISTINCT shingle FROM shingled
            WHERE source IN ('src0', 'src1')
        )
        SELECT s.doc_id,
               count(*) AS n_shingles,
               count(b.shingle) AS n_contaminated,
               CAST(count(b.shingle) AS DOUBLE) / count(*) AS contamination
        FROM shingled s LEFT JOIN bench b ON s.shingle = b.shingle
        WHERE s.source NOT IN ('src0', 'src1')
        GROUP BY s.doc_id
    """,
    tags=("text", "llm", "dedup", "contamination"),
    doc="Benchmark-contamination check: candidate documents scored by the "
    "fraction of their 3-token shingles that appear anywhere in a "
    "benchmark partition (src0/src1) — the decontamination gate every "
    "training corpus runs against eval sets.",
)
def text_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark shingle set is DISTINCT'd then broadcast — eval
    sets are tiny next to the corpus, so the candidate side never
    shuffles: scan -> shingle -> broadcast-hash probe -> per-doc agg.
    Shingles are distinct per doc by construction, so count(*) is the
    doc's shingle vocabulary and the ratio is exact."""
    from dynamodb_stream_processor_2_0_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", dedup.tokens_col("text")
    )
    shingled = docs.select(
        "doc_id",
        "source",
        F.explode(dedup.shingles_col("toks", 3)).alias("shingle"),
    )
    bench = (
        shingled.filter(F.col("source").isin(*_BENCH_SOURCES))
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = shingled.filter(~F.col("source").isin(*_BENCH_SOURCES))
    return (
        cand.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                "contamination"
            ),
        )
    )


@register(
    "text_gopher_repetition",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
        ), grams AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   unnest(list_transform(
                       generate_series(2, len(toks)),
                       i -> toks[i-1] || ' ' || toks[i])) AS bigram
            FROM toks
        ), gram_counts AS (
            SELECT doc_id, n_tokens, bigram, count(*) AS n
            FROM grams GROUP BY doc_id, n_tokens, bigram
        ), gram_stats AS (
            SELECT doc_id, n_tokens,
                   CAST(max(n) AS DOUBLE) / sum(n) AS top_bigram_frac,
                   CAST(count(*) AS DOUBLE) / sum(n) AS distinct_bigram_frac
            FROM gram_counts GROUP BY doc_id, n_tokens
        ), uni AS (
            SELECT doc_id,
                   CAST(count(DISTINCT tok) AS DOUBLE) / count(*)
                       AS distinct_token_frac
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY doc_id
        )
        SELECT g.doc_id, g.n_tokens,
               g.top_bigram_frac, g.distinct_bigram_frac,
               u.distinct_token_frac,
               (g.top_bigram_frac <= 0.18
                AND u.distinct_token_frac >= 0.30) AS gopher_keep
        FROM gram_stats g JOIN uni u ON g.doc_id = u.doc_id
        ORDER BY g.doc_id
    """,
    tags=("text", "llm", "quality"),
    doc="Gopher-style repetition quality rules: top-bigram mass "
    "fraction, distinct-bigram fraction, distinct-token fraction, and "
    "the keep/drop decision (Rae et al. 2021, 'Scaling Language "
    "Models' repetition filters). Complements text_quality_score's "
    "C4-style length/stopword/punctuation ratios with the repetition "
    "axis; all counting happens exploded-narrow (doc_id, gram) so the "
    "two shuffles are map-side combinable and skew-free at corpus "
    "scale.",
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    # 0-based Spark arrays: sequence element i in [2..n] -> bigram
    # (toks[i-2], toks[i-1]); guarded because sequence(2, n<2) counts
    # DOWN in Spark instead of yielding an empty list.
    grams = toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.explode(
            F.expr(
                "CASE WHEN size(toks) < 2 THEN array() "
                "ELSE transform(sequence(2, size(toks)), "
                "i -> concat(toks[i-2], ' ', toks[i-1])) END"
            )
        ).alias("bigram"),
    )
    gram_counts = grams.groupBy("doc_id", "n_tokens", "bigram").agg(
        F.count(F.lit(1)).alias("n")
    )
    gram_stats = gram_counts.groupBy("doc_id", "n_tokens").agg(
        (F.max("n").cast("double") / F.sum("n")).alias("top_bigram_frac"),
        (F.count(F.lit(1)).cast("double") / F.sum("n")).alias(
            "distinct_bigram_frac"
        ),
    )
    uni = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("un"))
        .groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)).cast("double") / F.sum("un")).alias(
                "distinct_token_frac"
            )
        )
    )
    return (
        gram_stats.join(uni, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "top_bigram_frac",
            "distinct_bigram_frac",
            "distinct_token_frac",
            (
                (F.col("top_bigram_frac") <= 0.18)
                & (F.col("distinct_token_frac") >= 0.30)
            ).alias("gopher_keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_mixture_sample",
    oracle="""
        WITH counts AS (
            SELECT source, count(*) AS n_s FROM documents GROUP BY source
        ), weighted AS (
            SELECT source, n_s,
                   CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) % 2 = 0
                        THEN 2.0 ELSE 1.0 END AS wgt
            FROM counts
        ), tot AS (
            SELECT sum(wgt) AS total_w, sum(n_s) AS total_n FROM weighted
        ), rates AS (
            SELECT source,
                   least(1.0, ((wgt / total_w) * (0.4 * total_n)) / n_s)
                       AS rate
            FROM weighted, tot
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d JOIN rates r USING (source)
        WHERE CAST(concat('0x', substr(md5(concat('mix:', d.doc_id)), 1, 8))
                   AS BIGINT) % 1000000
              < CAST(floor(r.rate * 1000000) AS BIGINT)
    """,
    tags=("text", "llm", "sampling", "mixture"),
    doc="Weighted mixture sampling: per-source target weights (even "
    "sources 2x odd) are converted into per-source acceptance rates "
    "against a 40% corpus budget at RUNTIME (rate = share * budget / "
    "count, capped at 1), then rows are admitted by deterministic md5 "
    "hash threshold — the mechanism behind training-data mixture "
    "rebalancing (upweight books, downweight web): reproducible across "
    "engines, runs, and cluster sizes, one broadcast join + a pushed "
    "scan filter, no shuffle of the corpus.",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rates are derived from the actual per-source counts (a runtime
    aggregate, like the DPP dim), so weight changes need no manual rate
    table. Hash-threshold admission keeps subsets monotone under budget
    increases. Double arithmetic is order-pinned to match the oracle:
    (wgt/total_w) * (0.4*total_n), then / n_s, then floor(*1e6)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    weighted = counts.withColumn(
        "wgt",
        F.when(
            F.expr("try_cast(substring(source, 4, 10) AS int)") % 2 == 0,
            F.lit(2.0),
        ).otherwise(F.lit(1.0)),
    )
    tot = weighted.agg(
        F.sum("wgt").alias("total_w"), F.sum("n_s").alias("total_n")
    )
    rates = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            ((F.col("wgt") / F.col("total_w"))
             * (F.lit(0.4) * F.col("total_n"))) / F.col("n_s"),
        ).alias("rate"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id"))), 1, 8),
        16, 10,
    ).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(h % 1000000 < F.floor(F.col("rate") * 1000000).cast("bigint"))
        .select("doc_id", "source", "lang")
    )


@register(
    "doc_chunk_tokens",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t <> '') AS toks
            FROM documents
        ), base AS (
            SELECT doc_id, toks, len(toks) AS n
            FROM toks WHERE len(toks) > 0
        ), starts AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0, n - 1, 24)) AS s
            FROM base
        )
        SELECT doc_id,
               CAST(s // 24 AS INTEGER) AS chunk_id,
               len(list_slice(toks, s + 1, s + 32)) AS n_chunk_tokens,
               md5(array_to_string(list_slice(toks, s + 1, s + 32), ' '))
                   AS chunk_md5
        FROM starts
        ORDER BY doc_id, chunk_id
    """,
    tags=("text", "chunking", "P8", "P9"),
    doc="Overlapping token-window chunking (size 32, stride 24): the "
    "document -> training-sample / RAG-passage splitter. Pure "
    "generator-side arithmetic (sequence + explode + slice), no UDF, "
    "no shuffle: chunk rows are produced inside the scan stage and "
    "carry only (doc_id, chunk_id, md5) downstream — at 100 TB the "
    "chunker is map-only and embarrassingly parallel.",
)
def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk text is reduced to md5 at the boundary so the gate compares
    content without shipping 32-token strings; slice() clamps the tail
    chunk on both engines (1-based, length- vs end-bounded forms)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    return (
        base.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(24))
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.expr("CAST(s div 24 AS INT)").alias("chunk_id"),
            F.expr("size(slice(toks, s + 1, 32))").alias("n_chunk_tokens"),
            F.expr("md5(array_join(slice(toks, s + 1, 32), ' '))").alias(
                "chunk_md5"
            ),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "text_tfidf_topk",
    oracle="""
        WITH term_rows AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       t -> length(t) >= 4)) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM term_rows GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df DESC,
                                tf.term
                   ) AS rank
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, rank, term, tf, df, score
        FROM scored WHERE rank <= 5
        ORDER BY doc_id, rank
    """,
    tags=("text", "tfidf", "A1", "join"),
    doc="TF-IDF top-5 keywords per document. Scoring uses the exact "
    "rational tf*N/df (one IEEE division of exact integers — "
    "bit-identical across engines, unlike ln-based idf where libm "
    "rounding diverges). tf and df are both map-side-combined "
    "aggregates; the tf-df join shuffles on term, and the per-doc "
    "top-5 is a bounded window — the classic two-pass corpus "
    "statistic, all JVM-side.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    term_rows = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"),
                lambda t: F.length(t) >= 4,
            )
        ).alias("term"),
    )
    tf = term_rows.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    )


@register(
    "sample_quota_per_source",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, lang,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(concat('quota:', doc_id)), doc_id
                   ) AS pick_order
            FROM documents
        )
        SELECT doc_id, source, lang, pick_order
        FROM ranked
        WHERE pick_order <= 40
        ORDER BY source, pick_order
    """,
    tags=("text", "sampling", "llm", "P9"),
    doc="Per-source quota cap: every source contributes at most 40 "
    "documents, chosen by deterministic hash order (md5 of a salted "
    "doc_id) — the hard-cap companion to rate-based mixture sampling "
    "(corpus_mixture_sample): rates enforce proportions, quotas enforce "
    "ceilings. Hash-ranked selection is reproducible across engines, "
    "runs, and cluster sizes, and monotone under quota increases. One "
    "shuffle on source; the rank window never sees more than one "
    "source's rows per partition.",
)
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("quota:"), F.col("doc_id"))), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.row_number().over(w).alias("pick_order"),
        )
        .filter(F.col("pick_order") <= 40)
        .orderBy("source", "pick_order")
    )


@register(
    "sample_priority_weighted",
    oracle="""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   CAST(n_chars AS DOUBLE) * 4294967296.0
                   / (1.0 + CAST(('0x' || substr(md5(concat('prio:', doc_id)), 1, 8))
                                 AS BIGINT)) AS priority
            FROM documents
        ), ranked AS (
            SELECT doc_id, source, n_chars, priority,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY priority DESC, doc_id
                   ) AS pick_order
            FROM keyed
        )
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
               priority, pick_order
        FROM ranked WHERE pick_order <= 25
        ORDER BY source, pick_order
    """,
    tags=("text", "sampling", "llm", "weighted"),
    doc="Per-document WEIGHTED sampling via priority sampling "
    "(Duffield-Lund-Thorup): each doc gets priority q = w/u with "
    "weight w = n_chars and u = (h+1)/2^32 from a salted md5 — top-25 "
    "per source by q is a weighted-without-replacement sample whose "
    "inclusion probability tracks doc length, the longer-docs-"
    "contribute-more rule real pretraining mixtures use. Deliberately "
    "priority sampling and NOT Efraimidis-Spirakis u^(1/w): ES needs "
    "ln/pow, whose libm last-ulp rounding differs across engines and "
    "could flip near-tie ranks; q = w*2^32/(h+1) is one IEEE multiply "
    "+ divide — exactly rounded, bit-identical everywhere, so the "
    "selection (and the gate hash) is engine-independent. One shuffle "
    "on source for the rank window; the hash/arith is map-side and "
    "whole-stage codegen'd.",
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(F.md5(F.concat(F.lit("prio:"), F.col("doc_id"))), 1, 8),
        16,
        10,
    ).cast("long")
    priority = (
        F.col("n_chars").cast("double")
        * F.lit(4294967296.0)
        / (F.lit(1.0) + u32.cast("double"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
            priority.alias("priority"),
        )
        .withColumn("pick_order", F.row_number().over(w))
        .filter(F.col("pick_order") <= 25)
    )


@register(
    "dataset_split_assign",
    oracle="""
        SELECT doc_id, source, lang,
               CASE
                   WHEN bucket < 80 THEN 'train'
                   WHEN bucket < 90 THEN 'val'
                   ELSE 'test'
               END AS split
        FROM (
            SELECT doc_id, source, lang,
                   CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100
                       AS bucket
            FROM documents
        )
    """,
    tags=("text", "sampling", "llm", "split"),
    doc="Deterministic 80/10/10 train/val/test assignment keyed on "
    "md5(TEXT), not doc_id: byte-identical documents always land in "
    "the SAME split, so exact duplicates can never leak train->test "
    "even before any dedup pass runs (near-dup leakage is the "
    "contamination probe's job, text_benchmark_contamination). "
    "Map-only — no shuffle at all (deliberately unsorted output: a "
    "global ORDER BY would add the plan's only exchange for cosmetics; "
    "the gate compares order-insensitively), the split column is "
    "computed inside the scan's codegen stage and the assignment is "
    "stable across runs, engines, and cluster sizes.",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    )
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "text_line_dedup_clean",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), lines AS (
            SELECT doc_id, s AS pos,
                   array_to_string(t[s : s + 2], ' ') AS line
            FROM toks CROSS JOIN (SELECT unnest(range(1, 1000, 3)) AS s)
            WHERE s <= len(t)
        ), boiler AS (
            SELECT line, count(DISTINCT doc_id) AS n_docs
            FROM lines GROUP BY line
        ), kept AS (
            SELECT l.doc_id, l.pos, l.line
            FROM lines l JOIN boiler b USING (line)
            WHERE b.n_docs <= 2
        ), rebuilt AS (
            SELECT doc_id,
                   count(*) AS n_kept,
                   md5(string_agg(line, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY doc_id
        ), totals AS (
            SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
        )
        SELECT t.doc_id,
               t.n_lines,
               COALESCE(r.n_kept, 0) AS n_kept,
               t.n_lines - COALESCE(r.n_kept, 0) AS n_removed,
               COALESCE(r.clean_md5, md5('')) AS clean_md5
        FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
    tags=("text", "dedup", "llm", "ccnet"),
    doc="CCNet-style line-level boilerplate removal — the op that "
    "PRODUCES the cleaned corpus rather than just scoring it: the "
    "corpus is segmented into non-overlapping 3-token lines (the "
    "synthetic texts have no sentence punctuation; on real data the "
    "segmenter splits on newline/sentence boundaries instead), every "
    "line appearing in more than 2 distinct documents (headers, "
    "navigation, license blurbs — 231 such lines at sf0.01) is "
    "dropped, and each document is REBUILT from its surviving lines "
    "in original order (sort_array over (pos, line) structs — "
    "deterministic, no window function). Output is the audit row per "
    "document (line counts + md5 of the rebuilt text, so the gate "
    "pins the exact reconstruction without shipping full texts). Two "
    "shuffles: the global line count and the per-doc rebuild — both "
    "map-side combinable; at 100 TB the line key becomes xxhash64 and "
    "the boilerplate set broadcasts (it is tiny relative to the "
    "corpus).",
)
def text_line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    lines = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(3))
        ).alias("pos"),
        "t",
    ).select(
        "doc_id",
        "pos",
        F.array_join(F.slice("t", F.col("pos"), 3), " ").alias("line"),
    )
    boiler = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    kept = lines.join(boiler, "line").filter(F.col("n_docs") <= 2)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda x: x["line"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
    )


@register(
    "quality_classifier_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, source,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               t -> t <> '') AS toks
            FROM documents
        ), feats AS (
            SELECT doc_id, lang, source,
                   list_concat(
                       toks,
                       list_transform(
                           list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                           p -> p[1] || '_' || p[2])) AS feats
            FROM toks
        ), ex AS (
            SELECT doc_id, unnest(feats) AS feat FROM feats
        ), scored AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5('w:' || CAST(
                       CAST(concat('0x', substr(md5(feat), 1, 8)) AS BIGINT)
                           % 1024 AS VARCHAR)), 1, 2)) AS BIGINT) - 128
                       AS weight
            FROM ex
        ), agg AS (
            SELECT doc_id, count(*) AS n_feats,
                   CAST(sum(weight) AS BIGINT) AS score_sum
            FROM scored GROUP BY doc_id
        )
        SELECT t.doc_id, t.lang, t.source,
               COALESCE(a.n_feats, 0) AS n_feats,
               COALESCE(a.score_sum, 0) AS score_sum,
               COALESCE(a.score_sum, 0) >= 0 AS keep
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    tags=("text", "llm", "quality", "classifier"),
    doc="Model-based quality filtering (fastText-architecture linear "
    "classifier over the hashing trick): features are lowercased "
    "whitespace unigrams + adjacent bigrams, hashed into 1024 buckets "
    "(md5-derived, collision behavior included), each bucket carrying "
    "an integer weight; a document keeps iff its exact BIGINT weight "
    "sum is >= 0. Weights here are a deterministic md5-derived stand-in "
    "for trained parameters — swapping in a real model is a broadcast "
    "weight-table join with the identical plan shape.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape: map-only tokenize/bigram/explode, one md5 per
    feature for the bucket, then a BROADCAST join against the
    1024-row weight table (weights depend only on the bucket, so
    deriving them per feature row would double the hash work — the
    per-row form measured ~2x slower once the cores saturated), one
    map-side-combined groupBy(doc_id). This is also the real
    architecture: trained weights ARE a broadcast table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        F.filter(
            F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
        ).alias("toks"),
    )
    n = F.size("toks")
    feats = toks.select(
        "doc_id",
        F.concat(
            F.col("toks"),
            F.zip_with(
                F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit("_"), b),
            ),
        ).alias("feats"),
    )
    ex = feats.select("doc_id", F.explode("feats").alias("feat"))
    bucket = F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("long") % 1024
    weights = spark.range(1024).select(
        F.col("id").alias("bucket"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("long")
            - 128
        ).alias("weight"),
    )
    agg = (
        ex.withColumn("bucket", bucket)
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("weight").alias("score_sum"),
        )
    )
    return toks.join(agg, "doc_id", "left").select(
        "doc_id",
        "lang",
        "source",
        F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
        F.coalesce("score_sum", F.lit(0)).alias("score_sum"),
        (F.coalesce("score_sum", F.lit(0)) >= 0).alias("keep"),
    )


def _curation_v2_oracle() -> str:
    from dynamodb_stream_processor_2_0_spark.plans.registry import REGISTRY

    surv = REGISTRY["dedup_survivorship_canonical"].oracle
    clf = REGISTRY["quality_classifier_score"].oracle
    tw = REGISTRY["dedup_token_window_exact"].oracle
    return f"""
        WITH surv AS (SELECT doc_id, cluster_id, cluster_n, is_canonical
                      FROM ({surv}) s),
             clf AS (SELECT doc_id, score_sum FROM ({clf}) c),
             tw AS (SELECT doc_id, dup_token_frac FROM ({tw}) t),
             base AS (
                 SELECT doc_id,
                        ROW_NUMBER() OVER (PARTITION BY md5(text)
                                           ORDER BY doc_id) AS exact_rn,
                        CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                            % 100 AS bucket
                 FROM documents
             ), ledger AS (
                 SELECT b.doc_id,
                        CASE
                            WHEN b.exact_rn > 1 THEN 'dropped_exact_dup'
                            WHEN NOT s.is_canonical THEN 'dropped_near_dup'
                            WHEN c.score_sum < 0 THEN 'dropped_classifier'
                            WHEN t.dup_token_frac >= 0.5
                                THEN 'dropped_substring_dup'
                            ELSE 'kept'
                        END AS disposition,
                        s.cluster_id, c.score_sum, t.dup_token_frac, b.bucket
                 FROM base b
                 JOIN surv s USING (doc_id)
                 JOIN clf c USING (doc_id)
                 JOIN tw t USING (doc_id)
             )
        SELECT doc_id, disposition, cluster_id, score_sum, dup_token_frac,
               CASE WHEN disposition = 'kept' THEN
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END
               END AS split
        FROM ledger
    """


@register(
    "corpus_curation_pipeline_v2",
    oracle=_curation_v2_oracle(),
    tags=("text", "llm", "dedup", "pipeline", "F12", "capstone"),
    doc="Full curation pipeline composing the round-4 operators into "
    "one tag-don't-drop ledger (the reference's F12 disposition "
    "pattern at corpus scale): exact-dup rank -> near-dup survivorship "
    "(MinHash-LSH components, keep-the-longest) -> hashed-classifier "
    "quality gate -> exact-substring duplicated-fraction gate -> "
    "leakage-safe train/val/test split for survivors. Every stage IS "
    "the registered operator (same functions, same oracles), so the "
    "composite stays gate-checkable end to end.",
)
def corpus_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition is by doc_id equi-joins of the stage outputs — each
    stage keeps its own (already budgeted) shuffle plan and the joins
    add one co-partitioned exchange per stage output. Precedence is
    explicit: a document dropped by an earlier stage is never charged
    to a later one, which is what makes per-stage loss rates readable
    at 100 TB."""
    from concurrent.futures import ThreadPoolExecutor

    from dynamodb_stream_processor_2_0_spark.plans.registry import REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    # The three stage builds are independent, and two of them trigger
    # eager work while the DataFrame is being CONSTRUCTED (the LSH
    # candidate graph's pinned sym + edge count inside
    # connected_components, and the token-window stage's eager `wins`
    # pin). Built sequentially those jobs run one after another with
    # the cluster mostly idle between stages; a 3-thread pool overlaps
    # them (guide §2.6). Each stage's plan and pinned content is
    # per-stage deterministic, so the composed ledger is unchanged.
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_surv = pool.submit(
            lambda: REGISTRY["dedup_survivorship_canonical"]
            .fn(spark, sf_dir)
            .select("doc_id", "cluster_id", "is_canonical")
        )
        f_clf = pool.submit(
            lambda: REGISTRY["quality_classifier_score"]
            .fn(spark, sf_dir)
            .select("doc_id", "score_sum")
        )
        f_tw = pool.submit(
            lambda: REGISTRY["dedup_token_window_exact"]
            .fn(spark, sf_dir)
            .select("doc_id", "dup_token_frac")
        )
        surv, clf, tw = f_surv.result(), f_clf.result(), f_tw.result()
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    )
    base = docs.select(
        "doc_id",
        F.row_number().over(w).alias("exact_rn"),
        bucket.alias("bucket"),
    )
    ledger = (
        base.join(surv, "doc_id")
        .join(clf, "doc_id")
        .join(tw, "doc_id")
        .withColumn(
            "disposition",
            F.when(F.col("exact_rn") > 1, "dropped_exact_dup")
            .when(~F.col("is_canonical"), "dropped_near_dup")
            .when(F.col("score_sum") < 0, "dropped_classifier")
            .when(F.col("dup_token_frac") >= 0.5, "dropped_substring_dup")
            .otherwise("kept"),
        )
    )
    return ledger.select(
        "doc_id",
        "disposition",
        "cluster_id",
        "score_sum",
        "dup_token_frac",
        F.when(
            F.col("disposition") == "kept",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "val")
            .otherwise("test"),
        ).alias("split"),
    )


@register(
    "bpe_merge_induction",
    oracle=__import__(
        "dynamodb_stream_processor_2_0_spark.operators.bpe", fromlist=["bpe_oracle_sql"]
    ).bpe_oracle_sql(rounds=2),
    tags=("text", "llm", "bpe", "tokenizer", "iterative", "slow"),
    doc="BPE tokenizer induction (Sennrich et al. 2016) as a "
    "distributed dataflow: 2 merge rounds over the corpus "
    "word-frequency table — count adjacent symbol pairs (frequency-"
    "weighted, exact BIGINT, lexicographic tie-break), merge the "
    "winner's non-overlapping left-to-right occurrences via the "
    "consecutive-run position trick (pure relational algebra, no "
    "imperative apply loop), and report the chosen merges plus "
    "post-round vocabulary statistics — all inside the oracle gate.",
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounds run on the DISTINCT-WORD table (the classic BPE trick:
    corpus size only enters the one-time frequency count); per round
    one map-side-combinable pair-count shuffle, one position window,
    one rebuild groupBy. See operators/bpe.py."""
    from dynamodb_stream_processor_2_0_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_induction(spark, docs, rounds=2)


@register(
    "corpus_shard_manifest",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       t -> t <> '')) AS BIGINT) AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY h, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM toks
        )
        SELECT CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(cum - n_tokens) AS BIGINT) AS start_offset,
               CAST(max(cum) AS BIGINT) AS end_offset
        FROM c
        GROUP BY 1
        ORDER BY shard_id
    """,
    tags=("text", "llm", "sampling", "export", "scale"),
    doc="Training-data shard manifest: documents in md5-shuffled order "
    "are packed into ~2000-token shards by the GLOBAL running token "
    "sum (a doc belongs to the shard containing its start offset — "
    "the WebDataset/epoch-export rule), and each shard reports its doc "
    "count, token count, and byte-offset-style interval. The prefix "
    "sum rides a new distributed-scan primitive "
    "(ranking.global_running_sum: range exchange + per-partition "
    "window + broadcast totals — never a single-task ORDER BY window).",
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest is the artifact a 100 TB export job writes next to
    its shards; computing it is one range exchange + a 64-ish-key
    rollup regardless of corpus size."""
    from dynamodb_stream_processor_2_0_spark.operators.ranking import (
        global_running_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
            )
        )
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    )
    c = global_running_sum(toks, ["h", "doc_id"], "n_tokens", out_col="cum")
    return (
        c.withColumn(
            "shard_id", F.expr("(cum - n_tokens) div 2000L")
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min(F.col("cum") - F.col("n_tokens")).alias("start_offset"),
            F.max("cum").alias("end_offset"),
        )
        .orderBy("shard_id")
    )


def _langid_confusion_oracle() -> str:
    from dynamodb_stream_processor_2_0_spark.plans.registry import REGISTRY

    langid = REGISTRY["text_langid_heuristic"].oracle
    return f"""
        WITH pred AS ({langid})
        SELECT lang AS actual_lang, predicted_lang,
               count(*) AS n_docs,
               CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
                   AS n_actual,
               CAST(count(*) AS DOUBLE)
                   / sum(count(*)) OVER (PARTITION BY lang) AS row_frac
        FROM pred
        GROUP BY lang, predicted_lang
    """


@register(
    "text_langid_confusion_matrix",
    oracle=_langid_confusion_oracle(),
    tags=("text", "llm", "eval", "langid"),
    doc="Classifier evaluation for the language-ID heuristic: the "
    "actual x predicted confusion matrix with per-actual-language row "
    "fractions — the eval artifact that decides whether the heuristic "
    "is good enough before it gates a corpus (the ANN family's "
    "recall_eval, applied to classification). Reuses the registered "
    "langid operator, so the eval measures what ships.",
)
def text_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One rollup on (actual, predicted) plus a per-actual window over
    the (languages^2)-row matrix — evaluation cost independent of
    corpus size after the prediction pass."""
    from dynamodb_stream_processor_2_0_spark.plans.registry import REGISTRY

    pred = REGISTRY["text_langid_heuristic"].fn(spark, sf_dir)
    counts = pred.groupBy(
        F.col("lang").alias("actual_lang"), "predicted_lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("actual_lang")
    return counts.select(
        "actual_lang",
        "predicted_lang",
        "n_docs",
        F.sum("n_docs").over(w).alias("n_actual"),
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "row_frac"
        ),
    )


@register(
    "text_lm_surprisal_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id, t.term, t.pos
            FROM documents,
                 LATERAL (
                     SELECT unnest(l) AS term, generate_subscripts(l, 1) AS pos
                     FROM (SELECT list_filter(
                               string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> length(x) >= 2) AS l)
                 ) t
        ), big AS (
            SELECT doc_id,
                   term || ' ' ||
                       lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
            FROM toks
            QUALIFY lead(term) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NOT NULL
        ), tf AS (
            SELECT doc_id, bg, count(*) AS tf FROM big GROUP BY doc_id, bg
        ), lm AS (
            SELECT bg, sum(tf) AS cnt FROM tf GROUP BY bg
        ), total AS (
            SELECT sum(cnt) AS n FROM lm
        ), scored AS (
            SELECT f.doc_id,
                   CAST(sum(f.tf * length(bin(t.n // l.cnt))) AS BIGINT)
                       AS sum_bits,
                   CAST(sum(f.tf) AS BIGINT) AS n_bigrams
            FROM tf f
            JOIN lm l USING (bg)
            CROSS JOIN total t
            GROUP BY f.doc_id
        )
        SELECT doc_id, n_bigrams, sum_bits,
               CAST(sum_bits AS DOUBLE) / n_bigrams AS avg_bits,
               CAST(sum_bits AS DOUBLE) / n_bigrams <= 10.2 AS keep
        FROM scored
        ORDER BY doc_id
    """,
    tags=("text", "llm", "quality", "F9"),
    doc="Bigram-LM surprisal quality filter (the CCNet/KenLM perplexity "
    "gate, integer-exact): the corpus itself is the language model - "
    "each bigram's surprisal is bitlen(N div count) ~ floor(log2(1/p))+1, "
    "computed with bin()/length so both engines agree bit-for-bit "
    "(libm log() last-ulp rounding differs across engines; integer "
    "division + binary length does not). A document's score is the "
    "tf-weighted mean surprisal of its token bigrams: gibberish, OCR "
    "noise, and rare-collocation soup score high and are dropped by the "
    "keep<=10.2-bit gate. Shuffle budget: one shuffle on doc_id for the "
    "adjacency window (lead), tf pre-agg on (doc_id, bg), lm agg on bg "
    "(map-side combinable), bg join (AQE absorbs the Zipf head because "
    "tf is already one row per (doc, bg)), doc rollup; corpus total N "
    "crosses as a broadcast single row. Extends the reference's "
    "per-record quality checks (index.js:167-221) to corpus-statistical "
    "quality, per the LLM-pipeline mandate.",
)
def text_lm_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram construction is MAP-ONLY: the filtered token array is
    zipped with itself shifted by one (transform over the length-1
    prefix, element_at i+2), so adjacency never needs a (doc, pos)
    window shuffle — the first exchange in the plan is already the
    (doc_id, bg) partial-agg. At sf0.1 (5k docs) wall time is at the
    multi-stage latency floor either way; at 100 TB the map-only form
    removes a full sort-shuffle of every token occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: F.length(t) >= 2
    )
    big = docs.withColumn("arr", arr).select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(F.col("arr"), 1, F.greatest(F.size("arr") - 1, F.lit(0))),
                lambda x, i: F.concat_ws(" ", x, F.element_at(F.col("arr"), i + 2)),
            )
        ).alias("bg"),
    )
    tf = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("tf"))
    lm = tf.groupBy("bg").agg(F.sum("tf").alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("n"))
    scored = (
        tf.join(lm, "bg")
        .crossJoin(F.broadcast(total))
        .withColumn("bits", F.length(F.bin(F.expr("n div cnt"))))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("bits")).alias("sum_bits"),
            F.sum("tf").alias("n_bigrams"),
        )
    )
    avg_bits = F.col("sum_bits").cast("double") / F.col("n_bigrams")
    return scored.select(
        "doc_id",
        "n_bigrams",
        "sum_bits",
        avg_bits.alias("avg_bits"),
        (avg_bits <= 10.2).alias("keep"),
    ).orderBy("doc_id")


def _filter_ensemble_oracle() -> str:
    from dynamodb_stream_processor_2_0_spark.plans.registry import REGISTRY

    clf = REGISTRY["quality_classifier_score"].oracle
    lm = REGISTRY["text_lm_surprisal_score"].oracle
    gop = REGISTRY["text_gopher_repetition"].oracle
    return f"""
        WITH j AS (
            SELECT c.doc_id,
                   CAST(c.keep AS INT) AS k_clf,
                   CAST(l.keep AS INT) AS k_lm,
                   CAST(g.gopher_keep AS INT) AS k_gop
            FROM ({clf}) c
            JOIN ({lm}) l ON l.doc_id = c.doc_id
            JOIN ({gop}) g ON g.doc_id = c.doc_id
        ), s AS (
            SELECT count(*) AS n,
                   sum(k_clf) AS a_clf, sum(k_lm) AS a_lm,
                   sum(k_gop) AS a_gop,
                   sum(CASE WHEN k_clf = k_lm THEN 1 ELSE 0 END) AS ag_cl,
                   sum(CASE WHEN k_clf = k_gop THEN 1 ELSE 0 END) AS ag_cg,
                   sum(CASE WHEN k_lm = k_gop THEN 1 ELSE 0 END) AS ag_lg
            FROM j
        ), pairs AS (
            SELECT 'classifier|lm' AS pair, n, a_clf AS a, a_lm AS b,
                   ag_cl AS agree FROM s
            UNION ALL
            SELECT 'classifier|gopher', n, a_clf, a_gop, ag_cg FROM s
            UNION ALL
            SELECT 'lm|gopher', n, a_lm, a_gop, ag_lg FROM s
        )
        SELECT pair,
               CAST(n AS BIGINT) AS n_docs,
               CAST(agree AS BIGINT) AS n_agree,
               CAST(agree * 1000000 // n AS BIGINT) AS po_micro,
               CAST((a * b + (n - a) * (n - b)) * 1000000 // (n * n)
                    AS BIGINT) AS pe_micro,
               CAST(CASE
                    WHEN n * n = a * b + (n - a) * (n - b) THEN 0
                    ELSE CASE WHEN agree * n >= a * b + (n - a) * (n - b)
                              THEN 1 ELSE -1 END
                         * (abs(agree * n - a * b - (n - a) * (n - b)) * 1000000
                            // (n * n - a * b - (n - a) * (n - b)))
                    END AS BIGINT) AS kappa_micro
        FROM pairs
        ORDER BY pair
    """


@register(
    "text_filter_ensemble_agreement",
    oracle=_filter_ensemble_oracle(),
    tags=("text", "llm", "quality", "eval"),
    doc="Inter-rater reliability of the three quality filters "
    "(hashed-classifier, bigram-LM surprisal, Gopher repetition): "
    "pairwise observed agreement, chance agreement, and Cohen's kappa "
    "over the per-document keep decisions — the curation-pipeline "
    "question 'are my filters measuring the same thing or "
    "complementary?'. Kappa is computed on the exact integer grid "
    "(kappa = (agree*n - a*b - (n-a)*(n-b)) / (n^2 - a*b - (n-a)*(n-b)), "
    "scaled to micro-units) with the SIGN extracted before the "
    "division: Spark's div truncates toward zero while DuckDB's // "
    "floors, so a negative kappa would otherwise hash-diverge by one "
    "micro-unit. One row per filter pair; the three source operators "
    "run as registered (each with its own documented shuffle budget), "
    "then one 1-row global aggregate fans out to 3 rows — evaluation "
    "cost independent of corpus size past the source ops.",
)
def text_filter_ensemble_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.plans.registry import REGISTRY

    clf = REGISTRY["quality_classifier_score"].fn(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("k_clf")
    )
    lm = REGISTRY["text_lm_surprisal_score"].fn(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("k_lm")
    )
    gop = REGISTRY["text_gopher_repetition"].fn(spark, sf_dir).select(
        "doc_id", F.col("gopher_keep").cast("int").alias("k_gop")
    )
    j = clf.join(lm, "doc_id").join(gop, "doc_id")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k_clf").alias("a_clf"),
        F.sum("k_lm").alias("a_lm"),
        F.sum("k_gop").alias("a_gop"),
        F.count_if(F.col("k_clf") == F.col("k_lm")).alias("ag_cl"),
        F.count_if(F.col("k_clf") == F.col("k_gop")).alias("ag_cg"),
        F.count_if(F.col("k_lm") == F.col("k_gop")).alias("ag_lg"),
    )
    pairs = s.selectExpr(
        "stack(3, "
        "'classifier|lm', a_clf, a_lm, ag_cl, "
        "'classifier|gopher', a_clf, a_gop, ag_cg, "
        "'lm|gopher', a_lm, a_gop, ag_lg) AS (pair, a, b, agree)",
        "n",
    )
    num = "(agree * n - a * b - (n - a) * (n - b))"
    den = "(n * n - a * b - (n - a) * (n - b))"
    # den = 0 iff both raters are constant (pe = 1) — chance-corrected
    # agreement is undefined there; report 0 ("no information beyond
    # chance") instead of dividing by zero. Found by the round-8
    # planted behavior test: a corpus where two filters keep EVERY doc
    # crashed BOTH engines identically — the twin-crash class parity
    # cannot catch. The oracle carries the same guard.
    return pairs.selectExpr(
        "pair",
        "cast(n AS bigint) AS n_docs",
        "cast(agree AS bigint) AS n_agree",
        "cast(CASE WHEN n = 0 THEN NULL"
        " ELSE agree * 1000000 div n END AS bigint) AS po_micro",
        "cast(CASE WHEN n = 0 THEN NULL ELSE"
        " (a * b + (n - a) * (n - b)) * 1000000 div (n * n) END AS bigint)"
        " AS pe_micro",
        f"cast(CASE WHEN {den} = 0 THEN 0 ELSE"
        f" (CASE WHEN {num} >= 0 THEN 1 ELSE -1 END)"
        f" * (abs({num}) * 1000000 div {den}) END AS bigint) AS kappa_micro",
    ).orderBy("pair")


@register(
    "corpus_mixture_rebalance_plan",
    oracle="""
        WITH kept AS (
            SELECT source, count(*) AS n_kept
            FROM (
                SELECT doc_id, source,
                       CAST('0x' || substr(md5('clean:' ||
                            CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                           % 10 <> 0 AS keep
                FROM documents
            ) WHERE keep GROUP BY source
        ), tot AS (
            SELECT sum(n_kept) AS n_total, count(*) AS n_sources FROM kept
        )
        SELECT k.source,
               k.n_kept,
               CAST(k.n_kept * 1000000 // t.n_total AS BIGINT)
                   AS share_micro,
               CAST(1000000 // t.n_sources AS BIGINT) AS target_micro,
               CAST(least(
                   1000000,
                   (t.n_total // t.n_sources) * 1000000 // k.n_kept
               ) AS BIGINT) AS admit_rate_micro
        FROM kept k CROSS JOIN tot t
        ORDER BY k.source
    """,
    tags=("text", "llm", "sampling", "planning"),
    doc="Mixture rebalancing planner: given this run's post-filter "
    "per-source survivor counts (a deterministic md5 'cleaning' gate "
    "stands in for the filter cascade), compute each source's realized "
    "share and the ADMISSION RATE the next run must apply to hit a "
    "uniform target mixture — rate = min(1, target_count/kept), all on "
    "the exact integer micro-grid. This is the feedback step between "
    "pipeline runs (measure -> re-plan) that corpus_mixture_sample's "
    "static weights assume someone computed; over-represented sources "
    "get a down-sampling rate, under-represented ones admit "
    "everything. One groupBy(source) + a broadcast 1-row total — "
    "planning cost independent of corpus size.",
)
def corpus_mixture_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        docs.select(
            "source",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("clean:"), F.col("doc_id").cast("string"))),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                % 10
                != 0
            ).alias("keep"),
        )
        .filter("keep")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    tot = kept.agg(
        F.sum("n_kept").alias("n_total"), F.count(F.lit(1)).alias("n_sources")
    )
    return (
        kept.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_kept",
            "cast(n_kept * 1000000 div n_total AS bigint) AS share_micro",
            "cast(1000000 div n_sources AS bigint) AS target_micro",
            "cast(least(1000000, (n_total div n_sources) * 1000000 div n_kept)"
            " AS bigint) AS admit_rate_micro",
        )
        .orderBy("source")
    )


# --- temperature-scaled mixture with exact apportionment -------------------

_TEMP_TARGET = 1000  # docs in the planned mixture

_TEMP_MIX_ORACLE = f"""
    WITH src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ), weighted AS (
        SELECT source, n_docs, tokens,
               CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w
        FROM src
    ), tot AS (
        SELECT CAST(sum(w) AS BIGINT) AS wsum,
               CAST(sum(tokens) AS BIGINT) AS tsum
        FROM weighted
    ), quota AS (
        SELECT source, n_docs, tokens, w,
               {_TEMP_TARGET} * w // (SELECT wsum FROM tot) AS base,
               {_TEMP_TARGET} * w % (SELECT wsum FROM tot) AS rem
        FROM weighted
    ), ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rr
        FROM quota
    ), extra AS (
        SELECT {_TEMP_TARGET} - CAST(sum(base) AS BIGINT) AS k FROM quota
    )
    SELECT source, n_docs, tokens,
           tokens * 1000 // (SELECT tsum FROM tot) AS share_before_milli,
           CAST(base + CASE WHEN rr <= (SELECT k FROM extra)
                            THEN 1 ELSE 0 END AS BIGINT) AS alloc_docs,
           (base + CASE WHEN rr <= (SELECT k FROM extra)
                        THEN 1 ELSE 0 END) * 1000 // {_TEMP_TARGET}
               AS share_after_milli
    FROM ranked
    ORDER BY source
"""


@register(
    "corpus_temperature_mixture_plan",
    oracle=_TEMP_MIX_ORACLE,
    tags=("text", "llm", "corpus"),
    doc="Temperature-scaled corpus mixture (the multilingual-LM "
    "sampling rule, T=2): source weights are tokens^(1/T) = "
    "floor(sqrt(tokens)) — IEEE double sqrt is correctly rounded, so "
    "the floor is deterministic cross-engine — flattening the "
    "head/tail imbalance raw proportional sampling has (big sources "
    "shrink, small sources grow), then a 1000-doc budget is split by "
    "LARGEST-REMAINDER apportionment (Hamilton's method): base = "
    "floor(N*w/W) per source, the leftover seats go to the largest "
    "remainders — an EXACT integer allocation summing to N by "
    "construction, no float shares to re-round. The before/after "
    "share columns show the tempering. Plan: one tokenize-free scan "
    "rollup per source (token counts via split length, no explode), "
    "1-row totals broadcast, remainder ranking through the "
    "distributed global_rank — post-agg relations only.",
)
def corpus_temperature_mixture_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.operators.ranking import (
        global_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens"),
    )
    weighted = src.withColumn(
        "w",
        F.floor(F.sqrt(F.col("tokens").cast("double"))).cast("long"),
    )
    tot = F.broadcast(
        weighted.agg(
            F.sum("w").cast("long").alias("wsum"),
            F.sum("tokens").cast("long").alias("tsum"),
        )
    )
    quota = weighted.crossJoin(tot).select(
        "source",
        "n_docs",
        "tokens",
        "tsum",
        F.expr(f"{_TEMP_TARGET} * w div wsum").alias("base"),
        F.expr(f"{_TEMP_TARGET} * w % wsum").alias("rem"),
    )
    ranked = global_rank(
        quota.withColumn("negrem", -F.col("rem")), ["negrem", "source"], "rr"
    )
    extra = F.broadcast(
        quota.agg(
            (F.lit(_TEMP_TARGET) - F.sum("base")).cast("long").alias("k")
        )
    )
    return (
        ranked.crossJoin(extra)
        .select(
            "source",
            "n_docs",
            "tokens",
            F.expr("tokens * 1000 div tsum").alias("share_before_milli"),
            F.expr("base + (CASE WHEN rr <= k THEN 1 ELSE 0 END)")
            .cast("long")
            .alias("alloc_docs"),
            F.expr(
                f"(base + (CASE WHEN rr <= k THEN 1 ELSE 0 END)) * 1000"
                f" div {_TEMP_TARGET}"
            ).alias("share_after_milli"),
        )
        .orderBy("source")
    )


# --- Kneser-Ney smoothed bigram language model --------------------------------
#
# The SMOOTHED LM leg beside text_lm_surprisal_score's MLE bigram
# model: interpolated Kneser-Ney, the n-gram smoothing every
# pre-neural LM shipped with, kept EXACT as one integer fraction.
# With D = n1/(n1 + 2*n2) (the Ney-Essen-Kneser leave-one-out
# discount from the bigram count-of-counts) the probability
#   P_KN(w2|w1) = max(c12 - D, 0)/c1 + D*d1(w1)/c1 * cont(w2)/T
# multiplies through by the common denominator (n1+2n2)*c1*T:
#   num = max(c12*(n1+2n2) - n1, 0)*T + n1*d1(w1)*cont(w2)
# so p_kn_micro = 1e6*num/den is a single DECIMAL(38,0) quotient —
# no floats, no logs. cont(w2) = |{w1 : c(w1 w2)>0}| is the
# continuation count (the Kneser-Ney insight: 'Francisco' is
# frequent but follows only 'San'); d1(w1) = |{w2 : c(w1 w2)>0}|.
# Output: the 20 most frequent bigrams with MLE vs KN probability —
# the discount visibly moves mass from dense rows to the
# continuation prior.

_KN_ORACLE = """
    WITH toks AS (
        SELECT doc_id, t.term, t.pos
        FROM documents,
             LATERAL (
                 SELECT unnest(l) AS term,
                        generate_subscripts(l, 1) AS pos
                 FROM (SELECT list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) >= 2) AS l)
             ) t
    ), big AS (
        SELECT term AS w1,
               lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
        QUALIFY lead(term) OVER (PARTITION BY doc_id ORDER BY pos)
            IS NOT NULL
    ), c12 AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM big GROUP BY w1, w2
    ), coc AS (
        SELECT CAST(count(*) FILTER (c = 1) AS BIGINT) AS n1,
               CAST(count(*) FILTER (c = 2) AS BIGINT) AS n2,
               CAST(count(*) AS BIGINT) AS t_types
        FROM c12
    ), left_ AS (
        SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS d1
        FROM c12 GROUP BY w1
    ), cont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS cw2
        FROM c12 GROUP BY w2
    )
    SELECT b.w1, b.w2, b.c AS c12, l.c1,
           CAST(1000000 * b.c // l.c1 AS BIGINT) AS p_mle_micro,
           CASE WHEN o.n1 + 2 * o.n2 = 0
                THEN CAST(1000000 * b.c // l.c1 AS BIGINT)
                ELSE CAST((1000000 * (CAST(greatest(
                          b.c * (o.n1 + 2 * o.n2) - o.n1, 0) AS HUGEINT)
                          * o.t_types
                      + CAST(o.n1 AS HUGEINT) * l.d1 * ct.cw2))
                     // (CAST(o.n1 + 2 * o.n2 AS HUGEINT) * l.c1
                         * o.t_types) AS BIGINT)
           END AS p_kn_micro
    FROM c12 b
    JOIN left_ l ON l.w1 = b.w1
    JOIN cont ct ON ct.w2 = b.w2
    CROSS JOIN coc o
    ORDER BY b.c DESC, b.w1, b.w2
    LIMIT 20
"""


@register(
    "text_kneser_ney_bigram_lm",
    oracle=_KN_ORACLE,
    tags=("text", "llm", "ml", "train"),
    doc="Interpolated Kneser-Ney bigram LM, exact: discount D = "
    "n1/(n1+2*n2) from the bigram count-of-counts (Ney-Essen-Kneser "
    "leave-one-out estimate), continuation counts cont(w2) = "
    "|{w1: c(w1,w2)>0}| (the KN insight — 'Francisco' is frequent "
    "but follows only 'San', so its UNIGRAM backoff mass should be "
    "tiny), and P_KN multiplied through by the common denominator "
    "(n1+2n2)*c1*T so each probability is ONE DECIMAL(38,0)/HUGEINT "
    "quotient in micro units — no floats, no logs, bit-identical "
    "across engines. The smoothed counterpart of the MLE bigram "
    "surprisal op; the 20 densest bigrams show the discount moving "
    "mass to the continuation prior. Shape: one bigram rollup "
    "(map-side combinable) + three tiny derived rollups (left "
    "totals, continuation counts, 1-row count-of-counts broadcast) "
    "joined back on the bigram keys — linear in token volume.",
)
def text_kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "filter(split(lower(text), '[^a-z0-9]+'),"
                    " x -> length(x) >= 2)"
                )
            ).alias("pos", "term"),
        )
    )
    wseq = W.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            "pos",
            F.col("term").alias("w1"),
            F.lead("term").over(wseq).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    c12 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    coc = c12.agg(
        F.expr("CAST(count_if(c = 1) AS BIGINT)").alias("n1"),
        F.expr("CAST(count_if(c = 2) AS BIGINT)").alias("n2"),
        F.count(F.lit(1)).cast("long").alias("t_types"),
    )
    left = c12.groupBy("w1").agg(
        F.sum("c").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("d1"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("cw2")
    )
    return (
        c12.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(coc))
        .select(
            "w1",
            "w2",
            F.col("c").alias("c12"),
            "c1",
            F.expr("CAST(1000000 * c div c1 AS BIGINT)").alias(
                "p_mle_micro"
            ),
            F.expr(
                "CASE WHEN n1 + 2 * n2 = 0"
                " THEN CAST(1000000 * c div c1 AS BIGINT)"
                " ELSE CAST((1000000 * (CAST(greatest("
                " c * (n1 + 2 * n2) - n1, 0) AS DECIMAL(38,0))"
                " * t_types"
                " + CAST(n1 AS DECIMAL(38,0)) * d1 * cw2))"
                " div (CAST(n1 + 2 * n2 AS DECIMAL(38,0)) * c1"
                "      * t_types) AS BIGINT) END"
            ).alias("p_kn_micro"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(20)
    )
