"""BPE (byte-pair encoding) merge induction — tokenizer training as a
distributed dataflow (Sennrich et al. 2016, public algorithm).

Classic BPE over the corpus word-frequency table: symbols start as
characters; each round counts adjacent symbol pairs weighted by word
frequency, picks the most frequent pair (ties to the lexicographically
smallest), and merges its non-overlapping left-to-right occurrences in
every word. The merge-application step is the part that usually forces
imperative code; here it is pure relational algebra both engines can
run identically:

- mark positions whose (sym, next_sym) equals the chosen pair;
- group CONSECUTIVE marked positions into runs (pos - row_number) and
  keep every second position of a run (offset % 2 == 0) — exactly the
  greedy left-to-right non-overlap rule ("aaa" with pair (a,a) merges
  positions 1-2, not 2-3);
- rebuild each word's symbol list: merge-start positions emit the
  merged symbol, the following position is dropped, everything else
  passes through, ordered by position.

Determinism: counts are exact BIGINTs, ties break lexicographically,
and the merge application is position-arithmetic — bit-identical in
any engine, so each round's chosen pair and the post-round vocabulary
statistics sit inside the oracle gate.

Scale shape: rounds operate on the DISTINCT-WORD table (vocabulary),
not the corpus — the classic BPE trick; corpus size only enters the
one-time word-frequency count. Per round: one pair-count shuffle
(map-side combinable), one window pass over word positions, one
rebuild groupBy(word). The 1-row top-pair collect per round is the
bounded-driver-data pattern (same as the chain walk's count gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F


def words_with_freq(docs: DataFrame) -> DataFrame:
    """(word, freq, syms): corpus word-frequency table with each word
    split into character symbols."""
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
            )
        ).alias("word")
    )
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split("word", ""))
    )


def bpe_round(words: DataFrame) -> tuple[DataFrame, tuple[str, str, int]]:
    """One BPE round: returns (words after merge, (left, right, count))."""
    n = F.size("syms")
    pairs = words.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice("syms", 1, F.greatest(n - 1, F.lit(0))),
                F.slice("syms", 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("ab"),
    )
    top_rows = (
        pairs.groupBy("ab.a", "ab.b")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(1)
        .collect()
    )
    if not top_rows:
        # nothing mergeable (empty corpus / all single-symbol words):
        # signal exhaustion instead of IndexError on the pick
        return words, None
    top = top_rows[0]
    a, b, cnt = top["a"], top["b"], int(top["cnt"])

    pos = words.select(
        "word", "freq", F.posexplode("syms").alias("p0", "sym")
    ).select("word", "freq", (F.col("p0") + 1).alias("pos"), "sym")
    w_word = W.partitionBy("word").orderBy("pos")
    marked = pos.withColumn("nxt", F.lead("sym").over(w_word))
    matches = marked.filter(
        (F.col("sym") == a) & (F.col("nxt") == b)
    ).withColumn("grp", F.col("pos") - F.row_number().over(w_word))
    starts = (
        matches.withColumn(
            "off",
            F.col("pos") - F.min("pos").over(W.partitionBy("word", "grp")),
        )
        .filter(F.col("off") % 2 == 0)
        .select("word", F.col("pos").alias("mpos"))
    )
    joined = (
        marked.join(
            starts.select(
                "word", F.col("mpos").alias("pos"), F.lit(True).alias("is_start")
            ),
            ["word", "pos"],
            "left",
        ).join(
            starts.select(
                "word",
                (F.col("mpos") + 1).alias("pos"),
                F.lit(True).alias("is_skip"),
            ),
            ["word", "pos"],
            "left",
        )
    )
    ns = (
        F.when(F.col("is_start"), F.lit(a + b))
        .when(F.col("is_skip"), F.lit(None).cast("string"))
        .otherwise(F.col("sym"))
    )
    rebuilt = (
        joined.select("word", "freq", "pos", ns.alias("ns"))
        .filter(F.col("ns").isNotNull())
        .groupBy("word", "freq")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "ns"))),
                lambda x: x["ns"],
            ).alias("syms")
        )
    )
    return rebuilt, (a, b, cnt)


def vocab_stats(words: DataFrame) -> tuple[int, int]:
    """(distinct symbol types, total symbol occurrences weighted by
    word frequency) over the current vocabulary."""
    types = words.select(F.explode("syms").alias("s")).distinct().count()
    total = words.select(
        F.sum(F.col("freq") * F.size("syms")).alias("t")
    ).collect()[0]["t"]
    return int(types), int(total or 0)


def bpe_induction(
    spark: SparkSession, docs: DataFrame, rounds: int = 2
) -> DataFrame:
    """Run ``rounds`` BPE rounds; one output row per round with the
    chosen merge and the post-round vocabulary statistics."""
    words = words_with_freq(docs).localCheckpoint()
    rows = []
    for r in range(1, rounds + 1):
        words, merge = bpe_round(words)
        if merge is None:
            break  # merge space exhausted (tools/hostile_sweep.py)
        a, b, cnt = merge
        words = words.localCheckpoint()
        types, total = vocab_stats(words)
        rows.append((r, a, b, cnt, types, total))
    return spark.createDataFrame(
        rows,
        "round int, merged_left string, merged_right string, "
        "pair_count long, n_symbol_types_after long, "
        "n_symbols_total_after long",
    )


def _round_cte(r: int) -> str:
    p = r - 1
    return f"""pairs{r} AS (
            SELECT w.freq, w.syms[u.i] AS a, w.syms[u.i + 1] AS b
            FROM words{p} w, LATERAL unnest(range(1, len(w.syms))) AS u(i)
        ), top{r} AS (
            SELECT a, b, cnt FROM (
                SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt,
                       ROW_NUMBER() OVER (ORDER BY sum(freq) DESC, a, b) AS rn
                FROM pairs{r} GROUP BY a, b
            ) WHERE rn = 1
        ), pos{r} AS (
            SELECT w.word, w.freq, u.i AS pos, w.syms[u.i] AS sym,
                   CASE WHEN u.i < len(w.syms) THEN w.syms[u.i + 1] END AS nxt
            FROM words{p} w, LATERAL unnest(range(1, len(w.syms) + 1)) AS u(i)
        ), m{r} AS (
            SELECT word, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                       AS grp
            FROM pos{r}
            WHERE sym = (SELECT a FROM top{r})
              AND nxt = (SELECT b FROM top{r})
        ), starts{r} AS (
            SELECT word, pos FROM (
                SELECT word, pos,
                       pos - min(pos) OVER (PARTITION BY word, grp) AS off
                FROM m{r}
            ) WHERE off % 2 = 0
        ), words{r} AS (
            SELECT word, freq, list(ns ORDER BY pos) AS syms
            FROM (
                SELECT p.word, p.freq, p.pos,
                       CASE WHEN s1.pos IS NOT NULL
                                THEN (SELECT a || b FROM top{r})
                            WHEN s2.pos IS NOT NULL THEN NULL
                            ELSE p.sym END AS ns
                FROM pos{r} p
                LEFT JOIN starts{r} s1
                  ON s1.word = p.word AND s1.pos = p.pos
                LEFT JOIN starts{r} s2
                  ON s2.word = p.word AND s2.pos + 1 = p.pos
            ) WHERE ns IS NOT NULL
            GROUP BY word, freq
        ), stats{r} AS (
            SELECT {r} AS round,
                   (SELECT a FROM top{r}) AS merged_left,
                   (SELECT b FROM top{r}) AS merged_right,
                   (SELECT cnt FROM top{r}) AS pair_count,
                   (SELECT count(DISTINCT s)
                    FROM (SELECT unnest(syms) AS s FROM words{r}))
                       AS n_symbol_types_after,
                   (SELECT CAST(sum(freq * len(syms)) AS BIGINT)
                    FROM words{r}) AS n_symbols_total_after
        )"""


def bpe_oracle_sql(rounds: int = 2) -> str:
    ctes = [
        f"""words0 AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq,
                   string_split(word, '') AS syms
            FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(text), '\\s+'),
                    t -> t <> '')) AS word
                FROM documents
            ) GROUP BY word
        )"""
    ]
    ctes += [_round_cte(r) for r in range(1, rounds + 1)]
    unions = "\n        UNION ALL\n        ".join(
        f"SELECT * FROM stats{r}" for r in range(1, rounds + 1)
    )
    return f"""
        WITH {', '.join(ctes)}
        {unions}
    """
