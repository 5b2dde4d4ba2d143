"""Round-5 ingestion & multiscale extensions: heterogeneous-shard
schema harmonization (the multi-format backfill read every long-lived
100 TB table needs) and Haar wavelet energy (multiscale burst
diagnostics on event-time series).

Same arithmetic discipline as the analytics extension modules
(queries_graph_ops / queries_timeseries_ext / ...): exact BIGINT,
truncating division only on non-negatives, oracles recompute from the
pristine parquet.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources import formats
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

# --- heterogeneous-shard schema harmonization ------------------------------

# Staged once per process per sf_dir (sources/formats.staged): three
# shard generations of the events table under one directory —
#   v0: parquet, PRE-migration (no value column)
#   v1: CSV, adds value_cents
#   v2: JSONL, adds a channel column
def _stage_harmonize_shards(spark: SparkSession, sf_dir: str):
    def write(base: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        gen = F.col("event_id") % 3
        formats.write_batch(
            ev.filter(gen == 0).select("event_id", "user_id", "event_type"),
            f"{base}/v0",
            fmt="parquet",
        )
        formats.write_batch(
            ev.filter(gen == 1),
            f"{base}/v1",
            fmt="csv",
            header="true",
        )
        formats.write_batch(
            ev.filter(gen == 2).withColumn(
                "channel", F.concat(F.col("event_type"), F.lit("_ch"))
            ),
            f"{base}/v2",
            fmt="json",
        )

    base = formats.staged("harm_", (sf_dir,), write)
    return f"{base}/v0", f"{base}/v1", f"{base}/v2"


@register(
    "source_union_schema_harmonize",
    oracle="""
        WITH v AS (
            SELECT event_id % 3 AS gen, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT CAST(gen AS BIGINT) AS schema_version, event_type,
               count(*) AS n_events,
               CAST(sum(CASE WHEN gen = 0 THEN 0 ELSE cents END) AS BIGINT)
                   AS total_cents,
               CAST(sum(CASE WHEN gen = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_with_channel
        FROM v
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("source", "format", "S1", "scale"),
    doc="Heterogeneous-shard schema harmonization: three shard "
    "generations of one logical table (parquet without the value "
    "column; CSV with it; JSONL with an extra channel column) read "
    "with EXPLICIT per-generation schemas and unioned by NAME with "
    "missing columns null-filled — the backfill-free read path for a "
    "100 TB table whose schema evolved across format migrations "
    "(complements source_schema_evolution_merge, which handles "
    "evolution WITHIN one parquet lineage via mergeSchema; this op "
    "handles evolution ACROSS formats, where no footer reconciliation "
    "exists and the reader owns the contract). The oracle recomputes "
    "the same rollup from the pristine table with the generation rule "
    "inlined — proving the three encode/decode paths and the "
    "null-fill are lossless.",
)
def source_union_schema_harmonize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """unionByName(allowMissingColumns=True) is the harmonization
    primitive: each generation contributes its own explicit schema,
    later columns surface as NULL for earlier shards, and the
    coalesce defaults are the single place the contract lives."""
    p0, p1, p2 = _stage_harmonize_shards(spark, sf_dir)
    v0 = formats.read_batch(spark, p0, fmt="parquet").withColumn(
        "schema_version", F.lit(0).cast("long")
    )
    v1 = formats.read_batch(
        spark,
        p1,
        fmt="csv",
        schema="event_id bigint, user_id bigint, event_type string, "
        "value_cents bigint",
    ).withColumn("schema_version", F.lit(1).cast("long"))
    v2 = formats.read_batch(
        spark,
        p2,
        fmt="json",
        schema="event_id bigint, user_id bigint, event_type string, "
        "value_cents bigint, channel string",
    ).withColumn("schema_version", F.lit(2).cast("long"))
    harmonized = v0.unionByName(
        v1, allowMissingColumns=True
    ).unionByName(v2, allowMissingColumns=True)
    return (
        harmonized.groupBy("schema_version", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce("value_cents", F.lit(0)))
            .cast("long")
            .alias("total_cents"),
            F.sum(
                F.when(F.col("channel").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_with_channel"),
        )
        .orderBy("schema_version", "event_type")
    )


# --- Haar wavelet energy ---------------------------------------------------

_HAAR_LEVELS = 3


def _haar_oracle_sql() -> str:
    ctes = [
        """bounds AS (
            SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
            FROM events
        ), spine AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS day
            FROM bounds
        ), types AS (SELECT DISTINCT event_type FROM events),
        daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ), s0 AS (
            SELECT t.event_type,
                   row_number() OVER (PARTITION BY t.event_type
                                      ORDER BY s.day) AS rn,
                   COALESCE(d.cents, 0) AS x
            FROM types t CROSS JOIN spine s
            LEFT JOIN daily d
              ON d.event_type = t.event_type AND d.day = s.day
        )""",
    ]
    arms = []
    for lv in range(1, _HAAR_LEVELS + 1):
        p = lv - 1
        ctes.append(f"""l{lv} AS (
            SELECT event_type, (rn - 1) // 2 + 1 AS rn,
                   sum(CASE WHEN rn % 2 = 0 THEN x ELSE -x END) AS d,
                   sum(x) AS x,
                   count(*) AS m
            FROM s{p}
            GROUP BY event_type, (rn - 1) // 2
        ), s{lv} AS (
            SELECT event_type, rn, x FROM l{lv} WHERE m = 2
        )""")
        arms.append(f"""
        SELECT event_type, {lv} AS level,
               count(*) AS n_pairs,
               CAST(sum(d * d) AS BIGINT) AS energy
        FROM l{lv} WHERE m = 2
        GROUP BY event_type""")
    return f"""
        WITH {', '.join(ctes)}
        {' UNION ALL '.join(arms)}
        ORDER BY event_type, level
    """


@register(
    "events_haar_energy",
    oracle=_haar_oracle_sql(),
    tags=("timeseries", "analytics", "iterative"),
    doc="Unnormalized Haar wavelet energy of the per-type daily "
    "revenue series, levels 1-3: level-l details are pairwise "
    "differences of level-(l-1) smooths (sums), and sum(d^2) per "
    "level localizes WHERE the series' variance lives — day-to-day "
    "jitter (level 1) vs multi-day swings (level 3) — the multiscale "
    "burst diagnostic complementing the single-scale CUSUM/trend "
    "detectors. The unnormalized transform (no /sqrt(2)) keeps every "
    "coefficient exact BIGINT, bit-identical cross-engine; an "
    "unpaired tail element at any level is dropped (m=2 guard) "
    "identically on both engines. Each level is one tiny groupBy on "
    "the post-rollup (type, pair) relation.",
)
def events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        )
    )
    types = events.select("event_type").distinct()
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    s = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.row_number().over(w).alias("rn"),
            F.coalesce("cents", F.lit(0)).alias("x"),
        )
    )
    arms = []
    for lv in range(1, _HAAR_LEVELS + 1):
        pairs = (
            s.groupBy(
                "event_type", F.expr("(rn - 1) div 2 + 1").alias("prn")
            )
            .agg(
                F.sum(
                    F.when(F.col("rn") % 2 == 0, F.col("x")).otherwise(
                        -F.col("x")
                    )
                ).alias("d"),
                F.sum("x").alias("x"),
                F.count(F.lit(1)).alias("m"),
            )
        )
        full = pairs.filter(F.col("m") == 2)
        arms.append(
            full.groupBy("event_type").agg(
                F.lit(lv).alias("level"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(F.col("d") * F.col("d")).cast("long").alias("energy"),
            )
        )
        s = full.select(
            "event_type", F.col("prn").alias("rn"), "x"
        )
    u = arms[0]
    for a in arms[1:]:
        u = u.unionByName(a)
    return u.orderBy("event_type", "level")


# --- DSIR importance weighting ---------------------------------------------

_DSIR_BUCKETS = 256

_DSIR_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), feat AS (
        SELECT doc_id, lang, source,
               CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                   % {_DSIR_BUCKETS} AS bucket
        FROM toks
    ), src_d AS (
        SELECT bucket, count(*) AS c FROM feat GROUP BY bucket
    ), tgt_d AS (
        SELECT bucket, count(*) AS c FROM feat WHERE lang = 'en'
        GROUP BY bucket
    ), tot AS (
        SELECT (SELECT sum(c) FROM src_d) + {_DSIR_BUCKETS} AS s_tot,
               (SELECT COALESCE(sum(c), 0) FROM tgt_d) + {_DSIR_BUCKETS}
                   AS t_tot
    ), w AS (
        SELECT s.bucket,
               (COALESCE(t.c, 0) + 1) * (SELECT s_tot FROM tot) AS num,
               (s.c + 1) * (SELECT t_tot FROM tot) AS den
        FROM src_d s LEFT JOIN tgt_d t USING (bucket)
    ), scored AS (
        SELECT f.doc_id, f.lang, f.source,
               CAST(sum(CASE
                   WHEN w.num >= w.den
                       THEN length(bin(w.num // w.den)) - 1
                   ELSE -(length(bin(w.den // w.num)) - 1)
               END) AS BIGINT) AS llr_bits
        FROM feat f JOIN w USING (bucket)
        GROUP BY 1, 2, 3
    )
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(llr_bits) AS BIGINT) AS sum_llr_bits,
           CAST(sum(CASE WHEN llr_bits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_target_like
    FROM scored
    GROUP BY source, lang
    ORDER BY source, lang
"""


@register(
    "text_dsir_importance",
    oracle=_DSIR_ORACLE,
    tags=("text", "llm", "quality", "sampling"),
    doc="DSIR-style importance weighting (Xie et al., data selection "
    "via importance resampling): hashed unigram features (256 "
    "buckets), per-bucket importance ratio target_p/source_p with "
    "add-one smoothing (target = the 'en' slice), and a per-document "
    "log-likelihood-ratio score summed over its tokens — the "
    "principled replacement for hard language/quality filters when "
    "composing a pretraining mixture toward a target distribution. "
    "The LLR uses the integer bitlen log2 (sign-extracted for ratios "
    "< 1: floor-log of the INVERTED ratio, negated), so scores are "
    "bit-identical cross-engine. Rolled up per (source, lang): docs, "
    "total LLR bits, target-like count — the report that decides "
    "per-source resampling rates. Shuffles: one (bucket) dist agg "
    "per arm, a broadcast 256-row weight join, one doc rollup.",
)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split("text", " ")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        "source",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    src_d = feat.groupBy("bucket").agg(F.count(F.lit(1)).alias("sc"))
    tgt_d = (
        feat.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    tot = src_d.agg(
        (F.sum("sc") + _DSIR_BUCKETS).alias("s_tot")
    ).crossJoin(
        tgt_d.agg(
            (F.coalesce(F.sum("tc"), F.lit(0)) + _DSIR_BUCKETS).alias(
                "t_tot"
            )
        )
    )
    w = (
        src_d.join(tgt_d, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            ((F.coalesce("tc", F.lit(0)) + 1) * F.col("s_tot")).alias("num"),
            ((F.col("sc") + 1) * F.col("t_tot")).alias("den"),
        )
    )
    scored = (
        feat.join(F.broadcast(w), "bucket")
        .withColumn(
            "bits",
            F.when(
                F.col("num") >= F.col("den"),
                F.length(F.bin(F.expr("num div den"))) - 1,
            ).otherwise(
                -(F.length(F.bin(F.expr("den div num"))) - 1)
            ),
        )
        .groupBy("doc_id", "lang", "source")
        .agg(F.sum("bits").cast("long").alias("llr_bits"))
    )
    return (
        scored.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("llr_bits").cast("long").alias("sum_llr_bits"),
            F.sum(F.when(F.col("llr_bits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_target_like"),
        )
        .orderBy("source", "lang")
    )


# --- Neyman optimal stratified-sample allocation --------------------------------
#
# The survey-sampling completion of the sampling family (stratified =
# equal-rate, quota = fixed-per-stratum): Neyman allocation puts the
# budget where the VARIANCE is — n_h ∝ N_h * S_h minimizes the
# estimator variance of the stratified mean for a fixed budget. The
# per-stratum N_h*S_h is sqrt(N_h*ssq_h - s_h^2) (the variance times
# N_h^2), computed as a DETERMINISTIC APPROXIMATION of the integer
# sqrt (same contract as the OLS op, NOT exact): the operand is
# right-shifted by a shared EVEN bit count until it fits double-exact
# range (<2^52) — discarding the low bits of large operands —
# floor(sqrt(double)) of the now exactly-representable integer is
# IEEE-identical in both engines, and the result shifts back (the
# digit-drop pattern, base 4). For operands over 2^52 the weight can
# therefore deviate from true floor(sqrt) in its low bits, and a
# Hamilton seat can move across a near-tie; what IS guaranteed is
# bit-identical results in both engines from the shared shift
# schedule, which is the property the gate checks. Seats are
# apportioned by Hamilton largest-remainder (exact budget total);
# the remainder rank rides the broadcast triangular join (no
# single-partition window, the sign-flip FDR pattern).

_NEYMAN_BUDGET = 1000

_NEYMAN_ISQRT = """
    CASE WHEN {x} <= 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(floor(sqrt(CAST(({x})
                  >> (2 * (CASE WHEN length(bin({x})) > 52
                           THEN (length(bin({x})) - 51) // 2
                           ELSE 0 END))
              AS DOUBLE)))
              AS BIGINT)
              << (CASE WHEN length(bin({x})) > 52
                  THEN (length(bin({x})) - 51) // 2
                  ELSE 0 END)
    END
"""


def _neyman_oracle() -> str:
    isq = _NEYMAN_ISQRT.format(x="n_h * ssq - s * s")
    return f"""
        WITH strata AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_h,
                   CAST(sum(n_chars) AS BIGINT) AS s,
                   CAST(sum(n_chars * n_chars) AS BIGINT) AS ssq
            FROM documents GROUP BY source
        ), weighted AS (
            SELECT source, n_h, {isq} AS w
            FROM strata
        ), tot AS (
            SELECT CAST(sum(w) AS BIGINT) AS wt FROM weighted
        ), seats AS (
            SELECT w.source, w.n_h, w.w,
                   CAST({_NEYMAN_BUDGET} * w.w // t.wt AS BIGINT)
                       AS base,
                   CAST(({_NEYMAN_BUDGET} * w.w) % t.wt AS BIGINT)
                       AS rem
            FROM weighted w CROSS JOIN tot t
        ), ranked AS (
            SELECT a.*,
                   CAST(1 + (SELECT count(*) FROM seats b
                             WHERE b.rem > a.rem
                                OR (b.rem = a.rem
                                    AND b.source < a.source))
                        AS BIGINT) AS rk,
                   (SELECT CAST({_NEYMAN_BUDGET} - sum(base) AS BIGINT)
                    FROM seats) AS leftover
            FROM seats a
        )
        SELECT source, n_h, w AS neyman_weight,
               CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS n_alloc,
               CAST(least(base + CASE WHEN rk <= leftover
                                      THEN 1 ELSE 0 END, n_h)
                    AS BIGINT) AS n_alloc_capped,
               CAST(1000 * (base + CASE WHEN rk <= leftover
                                        THEN 1 ELSE 0 END)
                    // n_h AS BIGINT) AS sample_rate_permille
        FROM ranked
        ORDER BY source
    """


@register(
    "sample_neyman_allocation",
    oracle=_neyman_oracle(),
    tags=("sample", "llm", "stats"),
    doc="Neyman optimal stratified-sample allocation over document "
    "sources: budget seats n_h proportional to N_h*S_h (stratum size "
    "times stddev of n_chars) — the allocation minimizing the "
    "stratified-mean variance at fixed budget; the completion of the "
    "sampling family beside equal-rate stratified and fixed quota. "
    "N_h*S_h = sqrt(N_h*ssq - s^2) via a deterministic APPROXIMATE "
    "integer sqrt (shared even-bit right-shift into double-exact "
    "range, IEEE floor(sqrt), shift back — the OLS digit-drop "
    "pattern in base 4; low bits of >2^52 operands are dropped, so "
    "weights near a Hamilton tie can deviate from true Neyman — the "
    "guarantee is bit-identical engine agreement, not exactness); "
    "Hamilton largest-remainder apportionment "
    "makes the allocations sum to the budget exactly, with the "
    "remainder rank on the broadcast triangular join (no "
    "single-partition window). One stratum rollup + O(strata^2) "
    "tiny rank work; output O(strata).",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    isq = _NEYMAN_ISQRT.replace("//", "div").format(x="n_h * ssq - s * s")
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("long")
        .alias("ssq"),
    )
    weighted = strata.select(
        "source", "n_h", F.expr(f"CAST({isq} AS BIGINT)").alias("w")
    )
    tot = F.broadcast(weighted.agg(F.sum("w").cast("long").alias("wt")))
    seats = weighted.crossJoin(tot).select(
        "source",
        "n_h",
        "w",
        # wt = 0 guard: all-constant strata have zero Neyman weight
        # everywhere and the allocation is undefined — NULL, not an
        # ANSI div/mod-by-zero job kill (tools/hostile_sweep.py)
        F.expr(
            f"CAST(CASE WHEN wt = 0 THEN NULL"
            f" ELSE {_NEYMAN_BUDGET} * w div wt END AS BIGINT)"
        ).alias("base"),
        F.expr(
            f"CAST(CASE WHEN wt = 0 THEN NULL"
            f" ELSE ({_NEYMAN_BUDGET} * w) % wt END AS BIGINT)"
        ).alias("rem"),
    )
    other = F.broadcast(
        seats.select(
            F.col("source").alias("o_source"), F.col("rem").alias("o_rem")
        )
    )
    ranked = (
        seats.join(
            other,
            (F.col("o_rem") > F.col("rem"))
            | (
                (F.col("o_rem") == F.col("rem"))
                & (F.col("o_source") < F.col("source"))
            ),
            "left",
        )
        .groupBy("source", "n_h", "w", "base", "rem")
        .agg((F.count("o_source") + 1).cast("long").alias("rk"))
    )
    leftover = F.broadcast(
        seats.agg(
            F.expr(
                f"CAST({_NEYMAN_BUDGET} - sum(base) AS BIGINT)"
            ).alias("leftover")
        )
    )
    return (
        ranked.crossJoin(leftover)
        .select(
            "source",
            "n_h",
            F.col("w").alias("neyman_weight"),
            F.expr(
                "CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("n_alloc"),
            F.expr(
                "CAST(least(base + CASE WHEN rk <= leftover THEN 1"
                " ELSE 0 END, n_h) AS BIGINT)"
            ).alias("n_alloc_capped"),
            F.expr(
                "CAST(1000 * (base + CASE WHEN rk <= leftover"
                " THEN 1 ELSE 0 END) div n_h AS BIGINT)"
            ).alias("sample_rate_permille"),
        )
        .orderBy("source")
    )
