"""Causal inference, experimentation, and attribution over events:
time-decay / exact-Shapley / Markov-removal attribution, A/B
proportion z-test, CUPED variance reduction, diff-in-diff with
placebo, sign-flip permutation + BH FDR, Poisson bootstrap CIs,
AUC (Mann-Whitney), survival curves (gap + Kaplan-Meier),
lead/lag cross-correlation, sequential patterns, and held-out
Markov next-event eval.

Split out of the round-5/6 analytics extension module (one theme per
module).
Resampling / permutation designs are deterministic (md5-seeded) and
band-bounded so the replicate dimension is a constant, never a
per-row Python loop.

House arithmetic rules apply: exact BIGINT / DECIMAL grids, truncating
division only on non-negative operands, sign extracted before any
floored ratio, md5-derived hashes shared bit-for-bit with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


# --- repurchase-gap survival curve -----------------------------------------

_SURVIVAL_HORIZONS = (7, 14, 30, 60, 90)

_SURVIVAL_ORACLE = f"""
    WITH gaps AS (
        SELECT o_custkey,
               datediff('day', lag(CAST(o_orderdate AS DATE)) OVER w,
                        CAST(o_orderdate AS DATE)) AS gap
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        QUALIFY lag(o_orderdate) OVER w IS NOT NULL
    )
    {" UNION ALL ".join(f'''
    SELECT {t} AS horizon_days,
           count(*) AS n_gaps,
           CAST(count(*) FILTER (WHERE gap > {t}) AS BIGINT) AS n_surviving,
           CAST(count(*) FILTER (WHERE gap > {t}) * 1000 // count(*)
                AS BIGINT) AS survival_permille
    FROM gaps''' for t in _SURVIVAL_HORIZONS)}
    ORDER BY horizon_days
"""


@register(
    "customer_gap_survival_curve",
    oracle=_SURVIVAL_ORACLE,
    tags=("timeseries", "analytics", "A1"),
    doc="Repurchase survival curve: S(t) = fraction of between-order "
    "gaps exceeding t for horizons 7/14/30/60/90 days — the empirical "
    "survival function (uncensored form; censoring the open interval "
    "after each customer's last order is a one-line extension) that "
    "churn models and re-engagement triggers calibrate against. One "
    "lag window per customer + one conditional aggregate per horizon "
    "over the tiny gap relation; horizons are aggregate columns on a "
    "shared scan, unioned into curve rows.",
)
def customer_gap_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.lag(F.to_date("o_orderdate")).over(w).alias("prev_d"),
        )
        .filter(F.col("prev_d").isNotNull())
        .select(F.datediff("d", "prev_d").alias("gap"))
    )
    arms = []
    for t in _SURVIVAL_HORIZONS:
        arms.append(
            gaps.agg(
                F.lit(t).alias("horizon_days"),
                F.count(F.lit(1)).alias("n_gaps"),
                F.sum(F.when(F.col("gap") > t, 1).otherwise(0))
                .cast("long")
                .alias("n_surviving"),
                F.expr(
                    f"cast(sum(CASE WHEN gap > {t} THEN 1 ELSE 0 END)"
                    " * 1000 div count(1) AS bigint)"
                ).alias("survival_permille"),
            )
        )
    u = arms[0]
    for arm in arms[1:]:
        u = u.unionByName(arm)
    return u.orderBy("horizon_days")

# --- time-decay multi-touch attribution ------------------------------------

_ATTR_WINDOW_DAYS = 3  # touches within this many days before the purchase

_ATTR_ORACLE = f"""
    WITH p AS (
        SELECT event_id AS pid, user_id, CAST(ts AS DATE) AS pday, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ), t AS (
        SELECT user_id, event_type AS channel, CAST(ts AS DATE) AS tday,
               ts AS tts
        FROM events WHERE event_type IN ('click', 'view', 'signup')
    ), pairs AS (
        SELECT p.pid, t.channel,
               CAST(1 AS BIGINT) << ({_ATTR_WINDOW_DAYS} - 1
                   - datediff('day', t.tday, p.pday)) AS w
        FROM p JOIN t
          ON t.user_id = p.user_id
         AND t.tts < p.pts
         AND datediff('day', t.tday, p.pday) < {_ATTR_WINDOW_DAYS}
    ), per_p AS (
        SELECT pid, channel, sum(w) AS wc,
               sum(sum(w)) OVER (PARTITION BY pid) AS wtot
        FROM pairs GROUP BY pid, channel
    ), credited AS (
        SELECT channel,
               sum((wc * 1000) // wtot) AS credit_milli,
               count(DISTINCT pid) AS n_purchases_touched
        FROM per_p GROUP BY channel
    ), unattributed AS (
        SELECT 'unattributed' AS channel,
               count(*) * 1000 AS credit_milli,
               count(*) AS n_purchases_touched
        FROM p WHERE pid NOT IN (SELECT DISTINCT pid FROM pairs)
    )
    SELECT channel, CAST(credit_milli AS BIGINT) AS credit_milli,
           CAST(n_purchases_touched AS BIGINT) AS n_purchases
    FROM (SELECT * FROM credited UNION ALL SELECT * FROM unattributed)
    WHERE n_purchases_touched > 0
    ORDER BY channel
"""


@register(
    "attribution_time_decay",
    oracle=_ATTR_ORACLE,
    tags=("analytics", "funnel", "join"),
    doc="Time-decay multi-touch attribution: each purchase splits 1000 "
    "milli-credits across the user's click/view/signup touches of the "
    "prior 3 days, weighted 2^-(days_ago) (bit-shift decay — no "
    "transcendental), rolled up per channel; purchases with no "
    "in-window touch land in 'unattributed'. The multi-touch upgrade "
    "of first_touch_attribution (which keeps the reference's "
    "earliest-wins state semantics): marketing-mix decisions need "
    "split credit, not winner-takes-all. The touch<->purchase pairing "
    "is an EQUI-join on user_id with the time window as residual "
    "predicates (per-user event lists are bounded by the 3-day "
    "window), then two map-side-combinable rollups; integer credit "
    "division truncates on non-negatives.",
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.to_date("ts").alias("pday"),
        F.col("ts").alias("pts"),
    )
    t = events.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.to_date("ts").alias("tday"),
        F.col("ts").alias("tts"),
    )
    days_ago = F.datediff(F.col("pday"), F.col("tday"))
    pairs = p.join(
        t,
        (p["user_id"] == t["user_id"])
        & (F.col("tts") < F.col("pts"))
        & (days_ago < _ATTR_WINDOW_DAYS),
    ).select(
        "pid",
        "channel",
        F.expr(
            f"cast(shiftleft(1L, {_ATTR_WINDOW_DAYS - 1}"
            " - datediff(pday, tday)) AS bigint)"
        ).alias("w"),
    )
    wc = pairs.groupBy("pid", "channel").agg(F.sum("w").alias("wc"))
    wtot = wc.groupBy("pid").agg(F.sum("wc").alias("wtot"))
    credited = (
        wc.join(wtot, "pid")
        .groupBy("channel")
        .agg(
            F.sum(F.expr("wc * 1000 div wtot")).alias("credit_milli"),
            F.countDistinct("pid").alias("n_purchases_touched"),
        )
    )
    unattributed = (
        p.join(pairs.select("pid").distinct(), "pid", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("unattributed").alias("channel"),
            (F.col("n") * 1000).alias("credit_milli"),
            F.col("n").alias("n_purchases_touched"),
        )
    )
    return (
        credited.unionByName(unattributed)
        .filter(F.col("n_purchases_touched") > 0)
        .select(
            "channel",
            F.col("credit_milli").cast("long"),
            F.col("n_purchases_touched").cast("long").alias("n_purchases"),
        )
        .orderBy("channel")
    )

# --- two-proportion A/B significance test ----------------------------------

_AB_ORACLE = """
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS bucket,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted,
               max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS errored
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ), metrics AS (
        SELECT 'purchase_conversion' AS metric, bucket, converted AS hit
        FROM per_user
        UNION ALL
        SELECT 'error_incidence', bucket, errored FROM per_user
    ), agg AS (
        SELECT metric,
               CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(sum(CASE WHEN bucket = 0 THEN hit ELSE 0 END) AS BIGINT)
                   AS c_a,
               CAST(sum(CASE WHEN bucket = 1 THEN hit ELSE 0 END) AS BIGINT)
                   AS c_b
        FROM metrics GROUP BY metric
    )
    SELECT metric, n_a, n_b, c_a, c_b,
           c_a * 1000 // n_a AS rate_a_milli,
           c_b * 1000 // n_b AS rate_b_milli,
           c_b * 1000 // n_b - c_a * 1000 // n_a AS lift_milli,
           10000 * CAST(c_a * n_b - c_b * n_a AS DECIMAL(38, 0))
                 * CAST(c_a * n_b - c_b * n_a AS DECIMAL(38, 0))
                 * CAST(n_a + n_b AS DECIMAL(38, 0))
               > 38416 * CAST(n_a AS DECIMAL(38, 0))
                       * CAST(n_b AS DECIMAL(38, 0))
                       * CAST(c_a + c_b AS DECIMAL(38, 0))
                       * CAST(n_a + n_b - c_a - c_b AS DECIMAL(38, 0))
               AS significant
    FROM agg ORDER BY metric
"""


@register(
    "events_ab_proportion_test",
    oracle=_AB_ORACLE,
    tags=("stats", "experiment"),
    doc="Two-proportion z-test for a deterministic 50/50 experiment "
    "split (bucket = user_id % 2): per-user purchase conversion and "
    "error incidence compared across buckets, significance at "
    "alpha=.05 decided by the EXACT cross-multiplied form of "
    "z^2 > 1.96^2 — z^2 = (c1*n2-c2*n1)^2 * N / (n1*n2*C*(N-C)) "
    "cleared of all four divisions into a DECIMAL(38,0) comparison "
    "(the KS-test treatment applied to the experimentation primitive; "
    "10000 * lhs > 38416 * rhs encodes 3.8416 exactly). Rates are "
    "truncating milli integers. Plan: one groupBy(user) scan rollup, "
    "then a 2-metric unpivot and a 2-row aggregate — the per-user "
    "rollup is the only shuffle at any scale.",
)
def events_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "errored"
        ),
    ).withColumn("bucket", F.col("user_id") % 2)
    metrics = per_user.select(
        F.lit("purchase_conversion").alias("metric"),
        "bucket",
        F.col("converted").alias("hit"),
    ).unionByName(
        per_user.select(
            F.lit("error_incidence").alias("metric"),
            "bucket",
            F.col("errored").alias("hit"),
        )
    )
    agg = metrics.groupBy("metric").agg(
        F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("bucket") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("bucket") == 0, F.col("hit")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("bucket") == 1, F.col("hit")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    return agg.select(
        "metric",
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        # empty-bucket guard: an all-odd (or all-even) user population
        # leaves one arm with n = 0; `div` must yield NULL like the
        # oracle's `//`, not an ANSI job kill (tools/hostile_sweep.py)
        F.expr(
            "CASE WHEN n_a = 0 THEN NULL ELSE c_a * 1000 div n_a END"
        ).alias("rate_a_milli"),
        F.expr(
            "CASE WHEN n_b = 0 THEN NULL ELSE c_b * 1000 div n_b END"
        ).alias("rate_b_milli"),
        F.expr(
            "CASE WHEN n_a = 0 OR n_b = 0 THEN NULL"
            " ELSE c_b * 1000 div n_b - c_a * 1000 div n_a END"
        ).alias("lift_milli"),
        F.expr(
            "10000 * cast(c_a * n_b - c_b * n_a AS DECIMAL(38,0))"
            " * cast(c_a * n_b - c_b * n_a AS DECIMAL(38,0))"
            " * cast(n_a + n_b AS DECIMAL(38,0))"
            " > 38416 * cast(n_a AS DECIMAL(38,0))"
            " * cast(n_b AS DECIMAL(38,0))"
            " * cast(c_a + c_b AS DECIMAL(38,0))"
            " * cast(n_a + n_b - c_a - c_b AS DECIMAL(38,0))"
        ).alias("significant"),
    ).orderBy("metric")

# --- exact rank-based AUC (Mann-Whitney) -----------------------------------

_AUC_ORACLE = """
    WITH scored AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        FROM documents
    ), ranked AS (
        SELECT label,
               CAST(row_number() OVER (ORDER BY score ASC, doc_id ASC)
                    AS BIGINT) AS rnk
        FROM scored
    ), agg AS (
        SELECT CAST(sum(label) AS BIGINT) AS n_pos,
               CAST(sum(1 - label) AS BIGINT) AS n_neg,
               CAST(sum(CASE WHEN label = 1 THEN rnk ELSE 0 END) AS BIGINT)
                   AS rank_sum_pos
        FROM ranked
    )
    SELECT n_pos, n_neg,
           (rank_sum_pos - n_pos * (n_pos + 1) // 2) AS u_statistic,
           (rank_sum_pos - n_pos * (n_pos + 1) // 2) * 1000
               // (n_pos * n_neg) AS auc_permille,
           (rank_sum_pos - n_pos * (n_pos + 1) // 2) * 2000
               // (n_pos * n_neg) - 1000 AS gini_milli
    FROM agg
"""


@register(
    "eval_auc_mann_whitney",
    oracle=_AUC_ORACLE,
    tags=("stats", "eval", "llm"),
    doc="Exact ROC AUC via the Mann-Whitney U identity — AUC = "
    "(rank-sum of positives - nP(nP+1)/2) / (nP*nN) — the standard "
    "eval for any scalar quality/classifier score against a binary "
    "label, computed WITHOUT materializing the O(nP*nN) pair "
    "comparisons the definition implies. Here it scores doc length "
    "(n_chars) as a predictor of lang='en' — a deliberately weak "
    "baseline whose ~500-permille AUC is itself the honest reading "
    "(the fixture's doc length carries no language signal; the "
    "operator is the evaluation primitive a real classifier column "
    "plugs into). The ranking runs through the distributed "
    "global_rank primitive (range exchange + broadcast offsets, no "
    "single-task window), ties broken by doc_id so the order is "
    "total and both engines agree bit-for-bit (documented: this is "
    "the tie-broken AUC; with a continuous score it equals the "
    "classical one). One scan, one distributed rank, one 1-row "
    "aggregate — linear at any scale.",
)
def eval_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.operators.ranking import (
        global_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    ranked = global_rank(scored, ["score", "doc_id"], "rnk")
    agg = ranked.agg(
        F.sum("label").cast("long").alias("n_pos"),
        F.sum(1 - F.col("label")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("label") == 1, F.col("rnk")).otherwise(0))
        .cast("long")
        .alias("rank_sum_pos"),
    )
    u = "(rank_sum_pos - n_pos * (n_pos + 1) div 2)"
    # single-class guard: AUC is undefined without both classes
    # (n_pos * n_neg = 0) — NULL like the oracle's `//`, not a job kill
    guard = "CASE WHEN n_pos * n_neg = 0 THEN NULL ELSE {expr} END"
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(u).cast("long").alias("u_statistic"),
        F.expr(guard.format(expr=f"{u} * 1000 div (n_pos * n_neg)"))
        .cast("long")
        .alias("auc_permille"),
        F.expr(guard.format(expr=f"{u} * 2000 div (n_pos * n_neg) - 1000"))
        .cast("long")
        .alias("gini_milli"),
    )

# --- row-pattern matching (MATCH_RECOGNIZE emulation) ----------------------

_VSHAPE_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS v,
               lead(CAST(round(value * 100) AS BIGINT), 1) OVER w AS v1,
               lead(CAST(round(value * 100) AS BIGINT), 2) OVER w AS v2,
               lead(CAST(round(value * 100) AS BIGINT), 3) OVER w AS v3,
               lead(CAST(round(value * 100) AS BIGINT), 4) OVER w AS v4
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)
    ), hits AS (
        SELECT user_id, event_type, v - v2 AS trough_drop
        FROM seq
        WHERE v1 < v AND v2 < v1 AND v3 > v2 AND v4 > v3
    )
    SELECT e.event_type,
           CAST(COALESCE(h.n_matches, 0) AS BIGINT) AS n_matches,
           CAST(COALESCE(h.users_with_match, 0) AS BIGINT)
               AS users_with_match,
           CAST(COALESCE(h.max_trough_drop_cents, 0) AS BIGINT)
               AS max_trough_drop_cents
    FROM (SELECT DISTINCT event_type FROM events) e
    LEFT JOIN (
        SELECT event_type, count(*) AS n_matches,
               count(DISTINCT user_id) AS users_with_match,
               max(trough_drop) AS max_trough_drop_cents
        FROM hits GROUP BY event_type
    ) h USING (event_type)
    ORDER BY event_type
"""


@register(
    "events_pattern_vshape_match",
    oracle=_VSHAPE_ORACLE,
    tags=("timeseries", "pattern"),
    doc="Row-pattern matching (the MATCH_RECOGNIZE capability Spark "
    "lacks as syntax): detect V-shaped value trajectories — two "
    "strictly-down steps followed by two strictly-up steps — in each "
    "(user, event_type) event sequence ordered by (ts, event_id). "
    "Fixed-length row patterns compile EXACTLY to a conjunction over "
    "lead() offsets in ONE window pass (no self-joins, no UDF state "
    "machine); variable-length (Kleene) patterns would compile to "
    "the gaps-and-islands primitives this repo already registers "
    "(events_streak_islands, text_rake_keywords). Reports per-type "
    "match counts, matching-user counts, and the deepest trough on "
    "the exact cents grid. Plan: one per-(user,type) window shuffle, "
    "one rollup — linear in events, per-key state is 4 lead slots.",
)
def events_pattern_vshape_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    v = F.round(F.col("value") * 100).cast("long")
    seq = ev.select(
        "user_id",
        "event_type",
        v.alias("v"),
        F.lead(v, 1).over(w).alias("v1"),
        F.lead(v, 2).over(w).alias("v2"),
        F.lead(v, 3).over(w).alias("v3"),
        F.lead(v, 4).over(w).alias("v4"),
    )
    hits = seq.filter(
        (F.col("v1") < F.col("v"))
        & (F.col("v2") < F.col("v1"))
        & (F.col("v3") > F.col("v2"))
        & (F.col("v4") > F.col("v3"))
    ).select(
        "user_id", "event_type", (F.col("v") - F.col("v2")).alias("drop")
    )
    per_type = hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.countDistinct("user_id").cast("long").alias("users_with_match"),
        F.max("drop").cast("long").alias("max_trough_drop_cents"),
    )
    types = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
    )
    return (
        types.join(per_type, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("n_matches", F.lit(0).cast("long")).alias(
                "n_matches"
            ),
            F.coalesce("users_with_match", F.lit(0).cast("long")).alias(
                "users_with_match"
            ),
            F.coalesce(
                "max_trough_drop_cents", F.lit(0).cast("long")
            ).alias("max_trough_drop_cents"),
        )
        .orderBy("event_type")
    )

# --- exact Shapley-value attribution ---------------------------------------
#
# Game-theoretic channel attribution (the data-driven model behind
# "DDA" products), EXACTLY: users' exposure sets over the four
# non-purchase channels (click=1, error=2, signup=4, view=8) form a
# 16-coalition lattice; coalition value v(S) = number of converted
# users whose entire exposure set is covered by S (subset-sum over the
# 16-row mask rollup); channel i's Shapley credit
#   phi_i = sum_{S: i not in S} |S|!(3-|S|)!/4! * (v(S+i) - v(S))
# is carried as credit24 = 24*phi_i, an EXACT INTEGER (the per-size
# weights 24*w are {6, 2, 2, 6}), with the efficiency axiom
# sum_i credit24_i = 24*(v(full) - v(empty)) emitted as a gate-checked
# boolean. Whole-history exposure (no pre-conversion window) is the
# documented simplification — the lattice algebra is unchanged by the
# windowing choice.
#
# Scale: ONE data-sized shuffle (the per-user rollup); the mask rollup
# is 16 rows, and every lattice computation (subset sums, marginals)
# joins constant-sized relations — corpus-size-independent, all exact
# BIGINT.

_SHAPLEY_LATTICE = """
    , masks AS (
        SELECT mask,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM users GROUP BY mask
    ), coal AS (
        SELECT c FROM {range16}
    ), v AS (
        SELECT c.c AS s, CAST(COALESCE(sum(m.n_conv), 0) AS BIGINT) AS v
        FROM coal c
        LEFT JOIN masks m ON (m.mask & c.c) = m.mask
        GROUP BY c.c
    ), marginals AS (
        SELECT ch.b AS channel_bit,
               vs.s AS s,
               (CASE WHEN bit_count(vs.s) = 0 OR bit_count(vs.s) = 3
                     THEN 6 ELSE 2 END)
                   * (vsi.v - vs.v) AS term
        FROM (SELECT c AS b FROM {range16} WHERE c IN (1, 2, 4, 8)) ch
        JOIN v vs ON (vs.s & ch.b) = 0
        JOIN v vsi ON vsi.s = (vs.s | ch.b)
    ), credit AS (
        SELECT channel_bit, CAST(sum(term) AS BIGINT) AS credit24
        FROM marginals GROUP BY channel_bit
    ), total AS (
        SELECT CAST(max(v) AS BIGINT) AS v_full FROM v
    ), eff AS (
        SELECT CAST(sum(credit24) AS BIGINT) AS credit_sum FROM credit
    )
    SELECT CASE channel_bit WHEN 1 THEN 'click' WHEN 2 THEN 'error'
                WHEN 4 THEN 'signup' ELSE 'view' END AS channel,
           c.credit24,
           CAST(CASE WHEN t.v_full = 0 THEN NULL
                     ELSE (CASE WHEN c.credit24 < 0 THEN -1 ELSE 1 END)
                          * (abs(c.credit24) * 1000 {fdiv} (24 * t.v_full))
                END AS BIGINT) AS credit_permille,
           (e.credit_sum = 24 * t.v_full) AS efficiency_holds
    FROM credit c CROSS JOIN total t CROSS JOIN eff e
    ORDER BY channel
"""

_SHAPLEY_ORACLE = (
    """
    WITH users AS (
        SELECT user_id,
               CAST(sum(DISTINCT CASE event_type
                    WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                    ELSE 0 END) AS BIGINT) AS mask,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
    )
    """
    + _SHAPLEY_LATTICE.format(range16="range(16) t(c)", fdiv="//")
)


@register(
    "attribution_shapley_exact",
    oracle=_SHAPLEY_ORACLE,
    tags=("analytics", "ml", "attribution", "agg"),
    doc="Exact Shapley-value channel attribution over the four "
    "non-purchase channels: per-user exposure bitmask + conversion "
    "flag (the single data-sized shuffle), 16-row mask rollup, "
    "coalition values by subset-sum on the broadcast lattice, and "
    "each channel's Shapley credit as the exact integer 24*phi "
    "(per-size factorial weights {6,2,2,6} clear the 4! denominator "
    "— no floats anywhere in a game-theory computation usually done "
    "in floating point). The efficiency axiom sum(credit24) = "
    "24*(v(full)-v(empty)) is emitted as a column and hence "
    "gate-checked every run. The principled successor to first-touch "
    "/ time-decay attribution; lattice cost is constant (16 x 16) at "
    "any corpus size, and a fifth channel changes 16 to 32, not the "
    "shape.",
)
def attribution_shapley_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    users = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(sum(DISTINCT CASE event_type "
                "WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
                "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 "
                "ELSE 0 END) AS BIGINT)"
            ).alias("mask"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
    )
    users.createOrReplaceTempView("shapley_users")
    spark.range(16).selectExpr("CAST(id AS INT) AS c").createOrReplaceTempView(
        "shapley_coal"
    )
    return spark.sql(
        "WITH users AS (SELECT * FROM shapley_users)"
        + _SHAPLEY_LATTICE.format(
            range16="shapley_coal", fdiv="div"
        )
    )

# --- gap-constrained sequential pattern mining -----------------------------
#
# PrefixSpan-lite: frequent 3-step behavioral patterns with a bounded
# gap (each step within <= 2 positions of the previous, so sequences
# with one interleaved noise event still match). Fixed length + fixed
# gap turn the pattern space into FOUR lead-offset combinations per
# position — (0,1,2) (0,1,3) (0,2,3) (0,2,4) — enumerated from ONE
# (user) window pass carrying 4 lead slots; no self-joins, no
# candidate-generation lattice. Support counted both as occurrences
# and as distinct users (the anti-bot dedup the raw count lacks).
# Same compile-the-pattern philosophy as events_pattern_vshape_match.

_SEQPAT_COMBOS = ((1, 2), (1, 3), (2, 3), (2, 4))
_SEQPAT_TOPK = 15


def _seqpat_arms_sql() -> str:
    return "\n        UNION ALL\n".join(
        f"""        SELECT user_id,
               concat(t0, '>', t{j}, '>', t{k}) AS pattern
        FROM leads WHERE t{j} IS NOT NULL AND t{k} IS NOT NULL"""
        for j, k in _SEQPAT_COMBOS
    )


_SEQPAT_ORACLE = f"""
    WITH leads AS (
        SELECT user_id, event_type AS t0,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2,
               lead(event_type, 3) OVER w AS t3,
               lead(event_type, 4) OVER w AS t4
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), occ AS (
{_seqpat_arms_sql()}
    ), counts AS (
        SELECT pattern,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM occ GROUP BY pattern
    )
    SELECT pattern, n_occurrences, n_users
    FROM counts
    ORDER BY n_occurrences DESC, pattern ASC
    LIMIT {_SEQPAT_TOPK}
"""


@register(
    "events_sequential_patterns",
    oracle=_SEQPAT_ORACLE,
    tags=("timeseries", "pattern", "analytics"),
    doc="Gap-constrained sequential pattern mining (PrefixSpan-lite): "
    "top-15 3-step behavioral patterns per the whole corpus, where "
    "each step may skip at most one interleaved event — the "
    "noise-tolerant upgrade over events_transition_matrix's strictly "
    "adjacent bigrams. Fixed length + bounded gap compile the entire "
    "pattern search into FOUR lead-offset combinations read from ONE "
    "per-user window pass (4 lead slots of state; no candidate "
    "lattice, no self-join — the PrefixSpan projection database "
    "degenerates to window arithmetic). Support reported as raw "
    "occurrences AND distinct users; global top-15 compiles to "
    "TakeOrderedAndProject, never a full sort.",
)
def events_sequential_patterns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    leads = events.filter(F.col("user_id").isNotNull()).select(
        "user_id",
        F.col("event_type").alias("t0"),
        *[
            F.lead("event_type", i).over(w).alias(f"t{i}")
            for i in range(1, 5)
        ],
    )
    occ = None
    for j, k in _SEQPAT_COMBOS:
        arm = leads.filter(
            F.col(f"t{j}").isNotNull() & F.col(f"t{k}").isNotNull()
        ).select(
            "user_id",
            F.concat_ws(">", "t0", f"t{j}", f"t{k}").alias("pattern"),
        )
        occ = arm if occ is None else occ.unionByName(arm)
    return (
        occ.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("pattern").asc())
        .limit(_SEQPAT_TOPK)
    )

# --- Kaplan-Meier product-limit survival (right-censored) ------------------
#
# Upgrades customer_gap_survival_curve's uncensored empirical curve to
# the actual product-limit estimator: between-order gaps are EVENTS
# (repurchase observed), the open interval from each customer's last
# order to the dataset horizon is a CENSORED duration (still at risk,
# no event) — dropping those, as the naive curve does, biases churn
# optimistic. S(t) = prod over event times t_i <= t of (1 - d_i/n_i)
# with risk sets n_i counting BOTH event and censored durations still
# >= t_i. The running product lives on a 1e5 grid with one truncating
# division per event time — sequential by definition, but over the
# DISTINCT-GAP-DAYS relation (a few hundred rows after rollup, any
# corpus size), folded in-plan per horizon via aggregate() on the
# sorted steps array; the oracle walks the identical truncation
# sequence with a recursive CTE, so both engines agree bit-for-bit.

_KM_HORIZONS = (7, 14, 30, 60, 90)
_KM_GRID = 100_000


def _km_steps_sql() -> str:
    # durs: one row per duration; evt = 1 event (gap), 0 censored tail.
    return """
        durs AS (
            SELECT evt, dur FROM (
                SELECT o_custkey,
                       datediff(d, lag_d) AS dur,
                       1 AS evt
                FROM lagged WHERE lag_d IS NOT NULL
                UNION ALL
                SELECT o_custkey,
                       datediff(horizon_d, max_d) AS dur,
                       0 AS evt
                FROM last_order
            ) u
        ), steps AS (
            SELECT dur,
                   CAST(sum(evt) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS m
            FROM durs GROUP BY dur
        )
    """


_KM_ORACLE = f"""
    WITH RECURSIVE bounds AS (
        SELECT CAST(max(o_orderdate) AS DATE) AS horizon_d FROM orders
    ), lagged AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               lag(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS lag_d
        FROM orders
    ), last_order AS (
        SELECT l.o_custkey, max(l.d) AS max_d, b.horizon_d
        FROM lagged l CROSS JOIN bounds b
        GROUP BY l.o_custkey, b.horizon_d
    ), {_km_steps_sql().replace(
        "datediff(d, lag_d)", "datediff('day', lag_d, d)").replace(
        "datediff(horizon_d, max_d)", "datediff('day', max_d, horizon_d)")},
    ordered AS (
        SELECT dur, d, m,
               row_number() OVER (ORDER BY dur) AS rn,
               (SELECT count(*) FROM durs)
                   - COALESCE(sum(m) OVER (
                         ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS n
        FROM steps
    ), km(rn, s) AS (
        SELECT 0, CAST({_KM_GRID} AS BIGINT)
        UNION ALL
        SELECT o.rn,
               CASE WHEN o.d > 0 THEN (km.s * (o.n - o.d)) // o.n
                    ELSE km.s END
        FROM ordered o JOIN km ON o.rn = km.rn + 1
    ), horizons AS (
        SELECT unnest([{", ".join(str(h) for h in _KM_HORIZONS)}])
            AS horizon_days
    ), at_h AS (
        SELECT h.horizon_days,
               COALESCE((SELECT km.s FROM km JOIN ordered o ON o.rn = km.rn
                         WHERE o.dur <= h.horizon_days
                         ORDER BY km.rn DESC LIMIT 1),
                        {_KM_GRID}) AS s_km_1e5
        FROM horizons h
    ), naive AS (
        SELECT h.horizon_days,
               CAST((SELECT count(*) FROM durs
                     WHERE evt = 1 AND dur > h.horizon_days) * {_KM_GRID}
                    // (SELECT count(*) FROM durs WHERE evt = 1)
                    AS BIGINT) AS s_naive_1e5
        FROM horizons h
    )
    SELECT a.horizon_days,
           CAST(a.s_km_1e5 AS BIGINT) AS s_km_1e5,
           n.s_naive_1e5,
           CAST(a.s_km_1e5 - n.s_naive_1e5 AS BIGINT)
               AS censoring_lift_1e5
    FROM at_h a JOIN naive n ON n.horizon_days = a.horizon_days
    ORDER BY a.horizon_days
"""


@register(
    "customer_kaplan_meier_survival",
    oracle=_KM_ORACLE,
    tags=("timeseries", "stats", "robust", "slow"),
    doc="Kaplan-Meier product-limit repurchase survival with RIGHT "
    "CENSORING: between-order gaps are events, each customer's open "
    "interval from last order to the dataset horizon is a censored "
    "duration that stays in the risk sets — the correction the naive "
    "gap curve (customer_gap_survival_curve, which documents itself "
    "as the uncensored form) lacks; the censoring_lift column "
    "quantifies exactly how optimistic the naive curve is at each "
    "horizon. Exactness: risk sets by a cumulative count over the "
    "distinct-gap-days rollup, the KM product folded on a 1e5 grid "
    "with one truncating division per event time — the fold runs "
    "in-plan via aggregate() over the sorted steps array (a few "
    "hundred rows after rollup at ANY corpus size; the data-sized "
    "stages are one lag window and one rollup), and the oracle "
    "replays the identical truncation sequence with a recursive CTE.",
)
def customer_kaplan_meier_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # lagged feeds gaps AND tails; durs feeds steps, the totals agg
    # AND the naive_gt arm — unpinned, the per-customer window ran ~5x
    # per action (20 parquet scans in the plan). Lazy pins; both
    # relations are narrow (3 and 2 columns).
    # r13 (VERDICT item 9, quiet in-sweep A/B closed): committed r11
    # sweep (no pins) 1.816 s vs committed r12 sweep (pins) 1.678 s at
    # 32c, both calibration-healthy artifacts — KEPT.
    lagged = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.lag(F.to_date("o_orderdate")).over(w).alias("lag_d"),
    ).localCheckpoint(eager=False)
    bounds = orders.agg(F.max(F.to_date("o_orderdate")).alias("horizon_d"))
    gaps = lagged.filter(F.col("lag_d").isNotNull()).select(
        F.datediff("d", "lag_d").cast("long").alias("dur"),
        F.lit(1).alias("evt"),
    )
    tails = (
        lagged.groupBy("o_custkey")
        .agg(F.max("d").alias("max_d"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.datediff("horizon_d", "max_d").cast("long").alias("dur"),
            F.lit(0).alias("evt"),
        )
    )
    durs = gaps.unionByName(tails).localCheckpoint(eager=False)
    steps = durs.groupBy("dur").agg(
        F.sum("evt").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    total = F.broadcast(
        durs.agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum("evt").cast("long").alias("n_events"),
        )
    )
    # Cumulative risk-set counts ride the distributed prefix-sum
    # primitive (no single-partition window, even though the steps
    # relation is post-agg tiny — house lint rule); exclusive prefix =
    # inclusive running sum minus the row's own m.
    from dynamodb_stream_processor_2_0_spark.operators.ranking import (
        global_running_sum,
    )

    ordered = (
        global_running_sum(steps, ["dur"], "m", out_col="cum_m")
        .crossJoin(total)
        .withColumn(
            "n",
            F.col("n_total") - (F.col("cum_m") - F.col("m")).cast("long"),
        )
        .select("dur", "d", "n", "n_total", "n_events")
    )
    arr = ordered.groupBy("n_total", "n_events").agg(
        F.sort_array(
            F.collect_list(F.struct("dur", "d", "n"))
        ).alias("steps")
    )
    naive_gt = durs.filter(F.col("evt") == 1).groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("g")
    )
    horizons = ", ".join(str(h) for h in _KM_HORIZONS)
    out = arr.select(
        "n_events",
        "steps",
        F.explode(F.expr(f"array({horizons})")).alias("horizon_days"),
    ).select(
        F.col("horizon_days").cast("long").alias("horizon_days"),
        F.expr(
            f"aggregate(filter(steps, x -> x.dur <= horizon_days"
            f" AND x.d > 0), CAST({_KM_GRID} AS BIGINT),"
            " (acc, x) -> (acc * (x.n - x.d)) div x.n)"
        ).alias("s_km_1e5"),
        "n_events",
        # out feeds the ngt arm twice plus the final join — pin the
        # (|horizons|-row) fold result instead of re-running it.
    ).localCheckpoint(eager=False)
    ngt = (
        out.select("horizon_days", "n_events")
        .join(
            naive_gt.crossJoin(
                out.select("horizon_days").distinct()
            ).filter(F.col("dur") > F.col("horizon_days"))
            .groupBy("horizon_days")
            .agg(F.sum("g").cast("long").alias("n_gt")),
            "horizon_days",
            "left",
        )
        .select(
            "horizon_days",
            F.coalesce("n_gt", F.lit(0).cast("long")).alias("n_gt"),
            "n_events",
        )
    )
    return (
        out.join(ngt, ["horizon_days", "n_events"])
        .select(
            "horizon_days",
            "s_km_1e5",
            F.expr(f"n_gt * {_KM_GRID} div n_events")
            .cast("long")
            .alias("s_naive_1e5"),
        )
        .withColumn(
            "censoring_lift_1e5",
            (F.col("s_km_1e5") - F.col("s_naive_1e5")).cast("long"),
        )
        .orderBy("horizon_days")
    )

# --- Poisson bootstrap confidence intervals --------------------------------
#
# THE distributed bootstrap: classical resampling draws n rows with
# replacement — impossible without global coordination — but the
# multinomial resample count of each row converges to Poisson(1), so
# giving every row an INDEPENDENT deterministic Poisson(1) weight per
# replicate reproduces the bootstrap distribution with one map-side
# pass (Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", the estimator production map-reduce stacks use). Weights
# come from the md5 hash on the 1e6 grid through the frozen Poisson(1)
# inverse-CDF thresholds, so Spark and DuckDB draw the SAME replicate
# worlds bit-for-bit. B=32 replicates explode rows x32 BEFORE partial
# aggregation collapses them to (type, b) cells — the shuffle carries
# ~32*n_types rows per task, not 32x the data.

_POISSON_CDF_1E6 = (367879, 735759, 919699, 981012, 996340, 999406)


def _boot_weight_sql(u: str) -> str:
    c = _POISSON_CDF_1E6
    return (
        f"CASE WHEN {u} < {c[0]} THEN 0 WHEN {u} < {c[1]} THEN 1 "
        f"WHEN {u} < {c[2]} THEN 2 WHEN {u} < {c[3]} THEN 3 "
        f"WHEN {u} < {c[4]} THEN 4 WHEN {u} < {c[5]} THEN 5 ELSE 6 END"
    )


_BOOTSTRAP_ORACLE = f"""
    WITH ev AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), reps AS (
        SELECT event_type, b, cents,
               {_boot_weight_sql(
                   "CAST(('0x' || substr(md5('boot:' "
                   "|| CAST(event_id AS VARCHAR) || ':' "
                   "|| CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"
               )} AS w
        FROM ev CROSS JOIN (SELECT unnest(range(0, 32)) AS b)
    ), cells AS (
        SELECT event_type, b,
               CAST(sum(w * cents) AS BIGINT) AS sw,
               CAST(sum(w) AS BIGINT) AS wn
        FROM reps GROUP BY event_type, b
    ), means AS (
        SELECT event_type, sw // wn AS m
        FROM cells WHERE wn > 0
    ), ci AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_replicates,
               CAST(list(m ORDER BY m)[2] AS BIGINT) AS ci_lo_cents,
               CAST(list(m ORDER BY m)[31] AS BIGINT) AS ci_hi_cents
        FROM means GROUP BY event_type
    ), pt AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
        FROM ev GROUP BY event_type
    )
    SELECT p.event_type, p.n_events, p.mean_cents,
           c.ci_lo_cents, c.ci_hi_cents, c.n_replicates
    FROM pt p JOIN ci c ON p.event_type = c.event_type
    ORDER BY p.event_type
"""


@register(
    "events_poisson_bootstrap_ci",
    oracle=_BOOTSTRAP_ORACLE,
    tags=("stats", "sampling", "robust"),
    doc="Distributed bootstrap CI for the per-type mean value: the "
    "Poisson bootstrap (multinomial resample counts -> independent "
    "Poisson(1) weights per replicate, the only bootstrap that works "
    "without global coordination — Chamandy et al.), with B=32 "
    "deterministic replicate worlds drawn from md5 on the 1e6 grid "
    "through frozen Poisson(1) inverse-CDF thresholds so both engines "
    "see identical resamples. The ~94% CI is the (2nd, 31st) order "
    "statistic of the replicate means — exact selection over a "
    "32-element sorted array per type, never a percentile estimate. "
    "Replicate cells partial-aggregate map-side: the x32 explode "
    "collapses to 32 x n_types rows before the shuffle, so the "
    "network cost at 100 TB is the cell count, not 32x the corpus. "
    "All-integer cents arithmetic; truncating division only on "
    "non-negative sums.",
)
def events_poisson_bootstrap_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    u = (
        "CAST(conv(substr(md5(concat('boot:', CAST(event_id AS STRING), "
        "':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000000"
    )
    reps = ev.select(
        "event_type",
        "cents",
        F.explode(F.expr("sequence(0, 31)")).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "cents",
        "b",
        F.expr(_boot_weight_sql(u)).alias("w"),
    )
    cells = reps.groupBy("event_type", "b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("sw"),
        F.sum("w").cast("long").alias("wn"),
    )
    means = cells.filter(F.col("wn") > 0).select(
        "event_type", F.expr("sw div wn").alias("m")
    )
    # try_element_at: tiny groups can drop zero-weight replicates below
    # 31 (P[Poisson(1) total weight = 0] is real for 2-3 rows), and the
    # order statistic must then be NULL like the oracle's out-of-range
    # list index — not an ANSI INVALID_ARRAY_INDEX job kill
    ci = means.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.expr(
            "CAST(try_element_at(sort_array(collect_list(m)), 2) AS BIGINT)"
        ).alias("ci_lo_cents"),
        F.expr(
            "CAST(try_element_at(sort_array(collect_list(m)), 31) AS BIGINT)"
        ).alias("ci_hi_cents"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("CAST(sum(cents) div count(1) AS BIGINT)").alias(
            "mean_cents"
        ),
    )
    return (
        pt.join(ci, "event_type")
        .select(
            "event_type",
            "n_events",
            "mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
            "n_replicates",
        )
        .orderBy("event_type")
    )

# --- Difference-in-differences estimator -----------------------------------
#
# The workhorse causal design: ATT = (treated post - treated pre) -
# (control post - control pre), which nets out both the group baseline
# difference and the common time trend. Assignment is a deterministic
# md5 coin per user (so on this synthetic data the true effect is zero
# and the estimate is a calibration audit of the estimator itself); the
# period split is the data midpoint so the operator is SF-agnostic. A
# PLACEBO arm re-runs the same contrast entirely inside the pre period
# — the standard falsification: a non-zero placebo flags a violated
# parallel-trends assumption, not a treatment effect. ONE conditional
# aggregation over (type, cells); the two epoch bounds ride a broadcast
# one-row aggregate.

_DID_ORACLE = """
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS tmid,
               (3 * epoch_us(min(ts)) + epoch_us(max(ts))) // 4 AS tq
        FROM events
    ), tagged AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(('0x' || substr(md5('did:'
                    || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 100 < 50 AS treated,
               epoch_us(ts) >= b.tmid AS post,
               epoch_us(ts) < b.tmid AND epoch_us(ts) >= b.tq
                   AS placebo_post
        FROM events CROSS JOIN bounds b
    ), cells AS (
        SELECT event_type,
               CAST(count(*) FILTER (treated AND post) AS BIGINT)
                   AS n_tp,
               CAST(count(*) FILTER (treated AND NOT post) AS BIGINT)
                   AS n_tr,
               CAST(count(*) FILTER (NOT treated AND post) AS BIGINT)
                   AS n_cp,
               CAST(count(*) FILTER (NOT treated AND NOT post)
                    AS BIGINT) AS n_cr,
               1000 * sum(cents) FILTER (treated AND post)
                   // count(*) FILTER (treated AND post) AS m_tp,
               1000 * sum(cents) FILTER (treated AND NOT post)
                   // count(*) FILTER (treated AND NOT post) AS m_tr,
               1000 * sum(cents) FILTER (NOT treated AND post)
                   // count(*) FILTER (NOT treated AND post) AS m_cp,
               1000 * sum(cents) FILTER (NOT treated AND NOT post)
                   // count(*) FILTER (NOT treated AND NOT post)
                   AS m_cr,
               1000 * sum(cents) FILTER (treated AND placebo_post)
                   // count(*) FILTER (treated AND placebo_post)
                   AS pm_tp,
               1000 * sum(cents)
                   FILTER (treated AND NOT post AND NOT placebo_post)
                   // count(*)
                   FILTER (treated AND NOT post AND NOT placebo_post)
                   AS pm_tr,
               1000 * sum(cents) FILTER (NOT treated AND placebo_post)
                   // count(*) FILTER (NOT treated AND placebo_post)
                   AS pm_cp,
               1000 * sum(cents)
                   FILTER (NOT treated AND NOT post
                           AND NOT placebo_post)
                   // count(*)
                   FILTER (NOT treated AND NOT post
                           AND NOT placebo_post) AS pm_cr
        FROM tagged GROUP BY event_type
    )
    SELECT event_type, n_tp, n_tr, n_cp, n_cr,
           CAST((m_tp - m_tr) - (m_cp - m_cr) AS BIGINT)
               AS did_millicents,
           CAST((pm_tp - pm_tr) - (pm_cp - pm_cr) AS BIGINT)
               AS placebo_did_millicents
    FROM cells
    ORDER BY event_type
"""


@register(
    "events_diff_in_diff",
    oracle=_DID_ORACLE,
    tags=("stats", "causal"),
    doc="Difference-in-differences treatment-effect estimator per "
    "event type: deterministic md5 coin assigns users to treatment, "
    "the data-midpoint timestamp splits pre/post (SF-agnostic), and "
    "ATT = (treated post-pre) - (control post-pre) nets out group "
    "baselines and the common time trend. Includes the standard "
    "PLACEBO falsification — the same contrast run entirely inside "
    "the pre period (quarter-point split), where any non-zero "
    "reading indicts parallel trends rather than measuring an "
    "effect. On this synthetic corpus the true effect is zero by "
    "construction, so the output is a calibration audit of the "
    "estimator; the cell means are exact milli-cents with "
    "truncating division over non-negative sums only, and the "
    "subtractions of already-truncated means replicate bit-for-bit "
    "in the oracle. ONE conditional aggregation (map-side "
    "combinable) + a broadcast one-row epoch-bounds aggregate; "
    "O(types) output at any corpus size.",
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "(unix_micros(CAST(min(ts) AS TIMESTAMP)) + unix_micros(CAST(max(ts) AS TIMESTAMP))) div 2"
        ).alias("tmid"),
        F.expr(
            "(3 * unix_micros(CAST(min(ts) AS TIMESTAMP)) + unix_micros(CAST(max(ts) AS TIMESTAMP))) div 4"
        ).alias("tq"),
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "CAST(conv(substr(md5(concat('did:', "
            "CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 100 < 50"
        ).alias("treated"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) >= tmid").alias("post"),
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) < tmid AND unix_micros(CAST(ts AS TIMESTAMP)) >= tq"
        ).alias("placebo_post"),
    )

    def _cell(cond: str) -> tuple[F.Column, F.Column]:
        n = F.expr(f"CAST(count_if({cond}) AS BIGINT)")
        m = F.expr(
            f"1000 * sum(CASE WHEN {cond} THEN cents END)"
            f" div count_if({cond})"
        )
        return n, m

    n_tp, m_tp = _cell("treated AND post")
    n_tr, m_tr = _cell("treated AND NOT post")
    n_cp, m_cp = _cell("NOT treated AND post")
    n_cr, m_cr = _cell("NOT treated AND NOT post")
    _, pm_tp = _cell("treated AND placebo_post")
    _, pm_tr = _cell("treated AND NOT post AND NOT placebo_post")
    _, pm_cp = _cell("NOT treated AND placebo_post")
    _, pm_cr = _cell("NOT treated AND NOT post AND NOT placebo_post")
    return (
        tagged.groupBy("event_type")
        .agg(
            n_tp.alias("n_tp"),
            n_tr.alias("n_tr"),
            n_cp.alias("n_cp"),
            n_cr.alias("n_cr"),
            ((m_tp - m_tr) - (m_cp - m_cr))
            .cast("long")
            .alias("did_millicents"),
            ((pm_tp - pm_tr) - (pm_cp - pm_cr))
            .cast("long")
            .alias("placebo_did_millicents"),
        )
        .orderBy("event_type")
    )

# --- Sign-flip permutation test + Benjamini-Hochberg FDR -------------------
#
# Exact finite-sample inference with NO distributional assumption and
# NO transcendental functions: per event type, each user's paired
# (post - pre) cents difference d_u is sign-flipped by 64 deterministic
# md5 coins; under H0 (symmetric null) every flip pattern is equally
# likely, so p = (1 + #{perm : |T_perm| >= |T_obs|}) / 65 is an exact
# integer-valued p-value. The per-type p-values then pass through
# Benjamini-Hochberg step-up at q = 0.10 with every comparison
# cross-multiplied (10*m*c <= 65*k), so the whole multiple-testing
# pipeline is integer arithmetic end to end. The x64 explode
# partial-aggregates to (type, perm) cells before the shuffle; the
# rank over the m-row p-value relation uses the broadcast triangular
# join (no single-partition window).

_FDR_ORACLE = """
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS tmid
        FROM events
    ), diffs AS (
        SELECT event_type, user_id,
               CAST(sum(CASE WHEN epoch_us(ts) >= b.tmid
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE -CAST(round(value * 100) AS BIGINT)
                        END) AS BIGINT) AS d
        FROM events CROSS JOIN bounds b
        GROUP BY event_type, user_id
    ), obs AS (
        SELECT event_type, abs(CAST(sum(d) AS BIGINT)) AS t_obs
        FROM diffs GROUP BY event_type
    ), flips AS (
        SELECT event_type, p,
               abs(CAST(sum(CASE WHEN
                   CAST(('0x' || substr(md5('flip:' || event_type
                        || ':' || CAST(user_id AS VARCHAR) || ':'
                        || CAST(p AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 2 = 0
                   THEN d ELSE -d END) AS BIGINT)) AS t_perm
        FROM diffs CROSS JOIN (SELECT unnest(range(1, 65)) AS p)
        GROUP BY event_type, p
    ), pvals AS (
        SELECT o.event_type, o.t_obs,
               CAST(1 + count(*) FILTER (f.t_perm >= o.t_obs)
                    AS BIGINT) AS c_of_65
        FROM obs o JOIN flips f ON f.event_type = o.event_type
        GROUP BY o.event_type, o.t_obs
    ), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pvals),
    ranked AS (
        SELECT a.event_type, a.t_obs, a.c_of_65, m.m,
               CAST(1 + (SELECT count(*) FROM pvals b
                         WHERE b.c_of_65 < a.c_of_65
                            OR (b.c_of_65 = a.c_of_65
                                AND b.event_type < a.event_type))
                    AS BIGINT) AS k
        FROM pvals a CROSS JOIN m
    ), kmax AS (
        SELECT max(CASE WHEN 10 * m * c_of_65 <= 65 * k THEN k END)
            AS k_max
        FROM ranked
    )
    SELECT r.event_type, r.t_obs AS t_obs_cents, r.c_of_65, r.k,
           COALESCE(r.k <= km.k_max, FALSE) AS rejected
    FROM ranked r CROSS JOIN kmax km
    ORDER BY r.event_type
"""


@register(
    "events_signflip_fdr",
    oracle=_FDR_ORACLE,
    tags=("stats", "robust"),
    doc="Exact sign-flip permutation test per event type + "
    "Benjamini-Hochberg FDR across types, fully integer: each user's "
    "paired post-minus-pre cents difference is sign-flipped through "
    "64 deterministic md5 coins, giving the exact finite-sample "
    "p-value p = (1 + #{|T_perm| >= |T_obs|})/65 with no normality "
    "assumption and no libm — the permutation-test partner of "
    "events_ab_proportion_test's parametric z. BH step-up at q=0.10 "
    "runs entirely cross-multiplied (10*m*c <= 65*k), the rank over "
    "the m-row p-value relation via the broadcast triangular join "
    "(house rule: no single-partition window even on tiny "
    "relations). Scale: the x64 flip explode partial-aggregates to "
    "(type, perm) cells map-side, the (type, user) paired rollup is "
    "the only data-sized shuffle, and everything downstream is "
    "O(types) rows.",
)
def events_signflip_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "(unix_micros(CAST(min(ts) AS TIMESTAMP)) + unix_micros(CAST(max(ts) AS TIMESTAMP))) div 2"
        ).alias("tmid")
    )
    diffs = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", "user_id")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN unix_micros(CAST(ts AS TIMESTAMP)) >= tmid"
                " THEN CAST(round(value * 100) AS BIGINT)"
                " ELSE -CAST(round(value * 100) AS BIGINT) END)"
                " AS BIGINT)"
            ).alias("d")
        )
        # Consumed by obs AND the 64-way flip explode; unpinned, the
        # events rollup ran twice per action. |types| x |users| rows.
        .localCheckpoint(eager=False)
    )
    obs = diffs.groupBy("event_type").agg(
        F.expr("abs(CAST(sum(d) AS BIGINT))").alias("t_obs")
    )
    flips = (
        diffs.select(
            "event_type",
            "d",
            "user_id",
            F.explode(F.expr("sequence(1, 64)")).alias("p"),
        )
        .select(
            "event_type",
            "p",
            F.expr(
                "CASE WHEN CAST(conv(substr(md5(concat('flip:', "
                "event_type, ':', CAST(user_id AS STRING), ':', "
                "CAST(p AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                " % 2 = 0 THEN d ELSE -d END"
            ).alias("sd"),
        )
        .groupBy("event_type", "p")
        .agg(F.expr("abs(CAST(sum(sd) AS BIGINT))").alias("t_perm"))
    )
    pvals = (
        obs.join(flips, "event_type")
        .groupBy("event_type", "t_obs")
        .agg(
            F.expr(
                "CAST(1 + count_if(t_perm >= t_obs) AS BIGINT)"
            ).alias("c_of_65")
        )
        # Consumed THREE times (m, and both sides of the BH rank
        # self-join); unpinned, the whole 64-permutation md5 pipeline
        # recomputed per consumer (48 parquet scans in the plan).
        # |event_type| rows — tiny.
        .localCheckpoint(eager=False)
    )
    m = pvals.agg(F.count(F.lit(1)).cast("long").alias("m"))
    a, b = pvals.alias("a"), pvals.alias("b")
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("b.c_of_65") < F.col("a.c_of_65"))
            | (
                (F.col("b.c_of_65") == F.col("a.c_of_65"))
                & (F.col("b.event_type") < F.col("a.event_type"))
            ),
            "left",
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.t_obs").alias("t_obs"),
            F.col("a.c_of_65").alias("c_of_65"),
        )
        .agg(
            (1 + F.count(F.col("b.event_type"))).cast("long").alias("k")
        )
        .crossJoin(F.broadcast(m))
    )
    kmax = ranked.agg(
        F.expr(
            "max(CASE WHEN 10 * m * c_of_65 <= 65 * k THEN k END)"
        ).alias("k_max")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            F.col("t_obs").alias("t_obs_cents"),
            "c_of_65",
            "k",
            F.coalesce(
                F.col("k") <= F.col("k_max"), F.lit(False)
            ).alias("rejected"),
        )
        .orderBy("event_type")
    )

# --- CUPED variance-reduced A/B estimate ------------------------------------
#
# CUPED (Deng et al., WSDM'13): regression-adjust the experiment
# metric with a PRE-period covariate — Y_adj = Y - theta*(X - E[X])
# with theta = cov(X,Y)/var(X) — shrinking metric variance by rho^2
# without biasing the treatment contrast (assignment is independent of
# the pre period). All moments are exact integer sums over per-user
# truncated-mean cents; the only divisions are the final sign-extracted
# scaled quotients, and rho^2 is chained through the already-truncated
# theta (theta_milli * num / deny) so the biggest intermediate is
# ~1e22 — DECIMAL(38,0)-safe past sf100, where the naive num^2 form
# overflows.

_CUPED_SIGN_DIV = (
    "(CASE WHEN {s} >= 0 THEN 1 ELSE -1 END) * (abs({s}) {div} {n})"
)


def _cuped_oracle() -> str:
    sd = lambda s, n: _CUPED_SIGN_DIV.format(s=s, n=n, div="//")
    return f"""
        WITH bounds AS (
            SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS tmid
            FROM events
        ), tagged AS (
            SELECT event_type, user_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   epoch_us(ts) >= b.tmid AS post
            FROM events CROSS JOIN bounds b
        ), per_user AS (
            SELECT event_type, user_id,
                   CAST(count(*) FILTER (NOT post) AS BIGINT) AS n_pre,
                   CAST(count(*) FILTER (post) AS BIGINT) AS n_post,
                   CAST(COALESCE(sum(cents) FILTER (NOT post), 0)
                        AS BIGINT) AS s_pre,
                   CAST(COALESCE(sum(cents) FILTER (post), 0)
                        AS BIGINT) AS s_post
            FROM tagged GROUP BY event_type, user_id
        ), xy AS (
            SELECT event_type, user_id,
                   CAST({sd("s_pre", "n_pre")} AS BIGINT) AS x,
                   CAST({sd("s_post", "n_post")} AS BIGINT) AS y,
                   CAST(('0x' || substr(md5('cuped:'
                        || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 100 < 50 AS treated
            FROM per_user WHERE n_pre > 0 AND n_post > 0
        ), g AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(count(*) FILTER (treated) AS BIGINT) AS n_t,
                   CAST(count(*) FILTER (NOT treated) AS BIGINT) AS n_c,
                   CAST(COALESCE(sum(x) FILTER (treated), 0) AS BIGINT)
                       AS sx_t,
                   CAST(COALESCE(sum(y) FILTER (treated), 0) AS BIGINT)
                       AS sy_t,
                   CAST(COALESCE(sum(x) FILTER (NOT treated), 0)
                        AS BIGINT) AS sx_c,
                   CAST(COALESCE(sum(y) FILTER (NOT treated), 0)
                        AS BIGINT) AS sy_c
            FROM xy GROUP BY event_type
        ), m AS (
            SELECT event_type, n, n_t, n_c,
                   CAST(n AS HUGEINT) * sxy
                       - CAST(sx AS HUGEINT) * sy AS num,
                   CAST(n AS HUGEINT) * sxx
                       - CAST(sx AS HUGEINT) * sx AS denx,
                   CAST(n AS HUGEINT) * syy
                       - CAST(sy AS HUGEINT) * sy AS deny,
                   CASE WHEN n_t = 0 THEN NULL
                        ELSE CAST({sd("sx_t", "n_t")} AS BIGINT) END
                       AS mx_t,
                   CASE WHEN n_t = 0 THEN NULL
                        ELSE CAST({sd("sy_t", "n_t")} AS BIGINT) END
                       AS my_t,
                   CASE WHEN n_c = 0 THEN NULL
                        ELSE CAST({sd("sx_c", "n_c")} AS BIGINT) END
                       AS mx_c,
                   CASE WHEN n_c = 0 THEN NULL
                        ELSE CAST({sd("sy_c", "n_c")} AS BIGINT) END
                       AS my_c
            FROM g
        ), t AS (
            SELECT event_type, n AS n_users, n_t AS n_treated,
                   n_c AS n_control, num, denx, deny,
                   mx_t, my_t, mx_c, my_c,
                   CASE WHEN denx <= 0 THEN CAST(0 AS BIGINT)
                        ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)
                             * CAST(abs(num) * 1000 // denx AS BIGINT)
                   END AS theta_milli
            FROM m
        )
        SELECT event_type, n_users, n_treated, n_control, theta_milli,
               CASE WHEN denx <= 0 OR deny <= 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(abs(CAST(theta_milli AS HUGEINT) * num)
                              // deny AS BIGINT)
               END AS var_reduction_permille,
               CAST(1000 * (my_t - my_c) AS BIGINT)
                   AS raw_diff_millicents,
               CAST(1000 * (my_t - my_c)
                    - theta_milli * (mx_t - mx_c) AS BIGINT)
                   AS cuped_diff_millicents
        FROM t
        ORDER BY event_type
    """


@register(
    "events_cuped_variance_reduction",
    oracle=_cuped_oracle(),
    tags=("stats", "causal", "experiment"),
    doc="CUPED variance-reduced A/B estimate per event type (Deng et "
    "al., WSDM'13): per-user pre-period mean cents X (covariate) and "
    "post-period mean cents Y (metric) split at the data-midpoint "
    "timestamp, deterministic md5 coin assignment, pooled theta = "
    "cov(X,Y)/var(X) as a sign-extracted milli quotient, and the "
    "adjusted treatment contrast 1000*(E[Y|t]-E[Y|c]) - "
    "theta_milli*(E[X|t]-E[X|c]). var_reduction_permille = rho^2 is "
    "chained through the truncated theta (theta_milli*num/deny) so "
    "the largest intermediate stays ~1e22 (DECIMAL(38,0)-safe past "
    "sf100) where the naive num^2 form overflows at sf1. On this "
    "synthetic corpus assignment is independent of value, so the raw "
    "and CUPED contrasts are both null-calibrated and the output "
    "audits that the adjustment preserves the estimate while the "
    "permille reports the variance shrink. Two map-combinable "
    "aggregations (user rollup, type moments) + one broadcast "
    "1-row bounds aggregate; O(types) output at any scale.",
)
def events_cuped_variance_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sd = lambda s, n: _CUPED_SIGN_DIV.format(s=s, n=n, div="div")
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "(unix_micros(CAST(min(ts) AS TIMESTAMP))"
            " + unix_micros(CAST(max(ts) AS TIMESTAMP))) div 2"
        ).alias("tmid")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) >= tmid").alias("post"),
    )
    per_user = tagged.groupBy("event_type", "user_id").agg(
        F.expr("CAST(count_if(NOT post) AS BIGINT)").alias("n_pre"),
        F.expr("CAST(count_if(post) AS BIGINT)").alias("n_post"),
        F.expr(
            "CAST(COALESCE(sum(CASE WHEN NOT post THEN cents END), 0)"
            " AS BIGINT)"
        ).alias("s_pre"),
        F.expr(
            "CAST(COALESCE(sum(CASE WHEN post THEN cents END), 0)"
            " AS BIGINT)"
        ).alias("s_post"),
    )
    xy = per_user.filter("n_pre > 0 AND n_post > 0").select(
        "event_type",
        F.expr(f"CAST({sd('s_pre', 'n_pre')} AS BIGINT)").alias("x"),
        F.expr(f"CAST({sd('s_post', 'n_post')} AS BIGINT)").alias("y"),
        F.expr(
            "CAST(conv(substr(md5(concat('cuped:', "
            "CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 100 < 50"
        ).alias("treated"),
    )
    g = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.expr("CAST(count_if(treated) AS BIGINT)").alias("n_t"),
        F.expr("CAST(count_if(NOT treated) AS BIGINT)").alias("n_c"),
        F.expr(
            "CAST(COALESCE(sum(CASE WHEN treated THEN x END), 0)"
            " AS BIGINT)"
        ).alias("sx_t"),
        F.expr(
            "CAST(COALESCE(sum(CASE WHEN treated THEN y END), 0)"
            " AS BIGINT)"
        ).alias("sy_t"),
        F.expr(
            "CAST(COALESCE(sum(CASE WHEN NOT treated THEN x END), 0)"
            " AS BIGINT)"
        ).alias("sx_c"),
        F.expr(
            "CAST(COALESCE(sum(CASE WHEN NOT treated THEN y END), 0)"
            " AS BIGINT)"
        ).alias("sy_c"),
    )
    m = g.select(
        "event_type",
        "n",
        "n_t",
        "n_c",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy"
        ).alias("num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx"
        ).alias("denx"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * syy"
            " - CAST(sy AS DECIMAL(38,0)) * sy"
        ).alias("deny"),
        F.expr(
            f"CASE WHEN n_t = 0 THEN NULL"
            f" ELSE CAST({sd('sx_t', 'n_t')} AS BIGINT) END"
        ).alias("mx_t"),
        F.expr(
            f"CASE WHEN n_t = 0 THEN NULL"
            f" ELSE CAST({sd('sy_t', 'n_t')} AS BIGINT) END"
        ).alias("my_t"),
        F.expr(
            f"CASE WHEN n_c = 0 THEN NULL"
            f" ELSE CAST({sd('sx_c', 'n_c')} AS BIGINT) END"
        ).alias("mx_c"),
        F.expr(
            f"CASE WHEN n_c = 0 THEN NULL"
            f" ELSE CAST({sd('sy_c', 'n_c')} AS BIGINT) END"
        ).alias("my_c"),
    )
    t = m.select(
        F.col("event_type"),
        F.col("n").alias("n_users"),
        F.col("n_t").alias("n_treated"),
        F.col("n_c").alias("n_control"),
        "num",
        "denx",
        "deny",
        "mx_t",
        "my_t",
        "mx_c",
        "my_c",
        F.expr(
            "CASE WHEN denx <= 0 THEN CAST(0 AS BIGINT)"
            " ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)"
            "      * CAST(floor(abs(num) * 1000 / denx) AS BIGINT)"
            " END"
        ).alias("theta_milli"),
    )
    return t.select(
        "event_type",
        "n_users",
        "n_treated",
        "n_control",
        "theta_milli",
        F.expr(
            "CASE WHEN denx <= 0 OR deny <= 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(floor(abs(CAST(theta_milli AS DECIMAL(38,0))"
            "      * num) / deny) AS BIGINT) END"
        ).alias("var_reduction_permille"),
        F.expr("CAST(1000 * (my_t - my_c) AS BIGINT)").alias(
            "raw_diff_millicents"
        ),
        F.expr(
            "CAST(1000 * (my_t - my_c)"
            " - theta_milli * (mx_t - mx_c) AS BIGINT)"
        ).alias("cuped_diff_millicents"),
    ).orderBy("event_type")

# --- lead/lag cross-correlation between event series -------------------------
#
# The cross-series companion to events_autocorrelation_lags: does the
# 'view' daily series LEAD each other type's series (ad-funnel lag
# structure), measured as the lagged cross-correlation r_k between the
# centered daily-count series at lags -3..+3? To stay transcendental-
# free the statistic is the SIGNED SQUARED correlation in permille:
# sign(num_k) * 1000 * num_k^2 / (sum(ya^2) * sum(yb^2)) — monotone in
# |r_k| with the sign preserved, exact integer end-to-end (the naive
# r_k needs a sqrt). Centering multiplies through by n (y = n*x -
# sum(x)) exactly as the ACF does.

_XCORR_LAGS = 3
_XCORR_ANCHOR = "view"

_XCORR_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        FROM events
    ), spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                    AS DATE) AS day
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        FROM events GROUP BY 1, 2
    ), series AS (
        SELECT t.event_type, s.day, COALESCE(d.x, 0) AS x
        FROM types t CROSS JOIN spine s
        LEFT JOIN daily d
          ON d.event_type = t.event_type AND d.day = s.day
    ), cent AS (
        SELECT event_type, day,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   * x
               - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
                   AS y
        FROM series
    ), dens AS (
        SELECT event_type, CAST(sum(y * y) AS BIGINT) AS den
        FROM cent GROUP BY event_type
    ), prods AS (
        SELECT b.event_type AS pair_type, l.lag,
               CAST(count(*) AS BIGINT) AS n_overlap_days,
               CAST(sum(a.y * b.y) AS BIGINT) AS num
        FROM cent a
        CROSS JOIN (SELECT unnest(range(-{_XCORR_LAGS},
                                        {_XCORR_LAGS} + 1)) AS lag) l
        JOIN cent b
          ON b.day = a.day + CAST(l.lag AS INTEGER)
         AND b.event_type <> '{_XCORR_ANCHOR}'
        WHERE a.event_type = '{_XCORR_ANCHOR}'
        GROUP BY b.event_type, l.lag
    )
    SELECT p.pair_type, p.lag, p.n_overlap_days,
           CASE WHEN da.den = 0 OR db.den = 0 THEN CAST(0 AS BIGINT)
                ELSE (CASE WHEN p.num >= 0 THEN 1 ELSE -1 END)
                     * CAST(CAST(p.num AS HUGEINT) * p.num * 1000
                            // (CAST(da.den AS HUGEINT) * db.den)
                            AS BIGINT)
           END AS xcorr_r2_signed_permille
    FROM prods p
    CROSS JOIN (SELECT den FROM dens
                WHERE event_type = '{_XCORR_ANCHOR}') da
    JOIN dens db ON db.event_type = p.pair_type
    ORDER BY p.pair_type, p.lag
"""


@register(
    "events_cross_correlation_leadlag",
    oracle=_XCORR_ORACLE,
    tags=("timeseries", "stats", "analytics"),
    doc="Lead/lag cross-correlation between the 'view' daily series "
    "and every other event type's daily series at lags -3..+3 on the "
    "shared zero-filled calendar spine — the funnel-lag diagnostic "
    "(a positive peak at lag k>0 means views lead that series by k "
    "days). Statistic = signed squared correlation in permille, "
    "sign(num)*1000*num^2/(sum(ya^2)*sum(yb^2)): monotone in |r| with "
    "the lead/lag sign kept, exact integer throughout (the plain r "
    "needs a sqrt; both engines compute the identical 128-bit "
    "quotient). Centering is the ACF's exact-integer y = n*x - "
    "sum(x). The raw scan reduces to |types| x |days| rows before "
    "any join; the lag pairing is an equi-join on the date key "
    "after a 7-way explode of the anchor rows — O(types*days*lags) "
    "work on post-aggregate relations regardless of raw scale.",
)
def events_cross_correlation_leadlag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
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
    daily = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("x", F.lit(0)).alias("x"))
    )
    wt = Window.partitionBy("event_type")
    cent = series.select(
        "event_type",
        "day",
        (
            F.count(F.lit(1)).over(wt).cast("long") * F.col("x")
            - F.sum("x").over(wt).cast("long")
        ).alias("y"),
    )
    dens = cent.groupBy("event_type").agg(
        F.sum(F.col("y") * F.col("y")).cast("long").alias("den")
    )
    anchor = (
        cent.filter(F.col("event_type") == _XCORR_ANCHOR)
        .select(
            F.col("day").alias("a_day"),
            F.col("y").alias("ya"),
            F.explode(
                F.sequence(F.lit(-_XCORR_LAGS), F.lit(_XCORR_LAGS))
            ).alias("lag"),
        )
        .select(
            "ya",
            "lag",
            F.expr("date_add(a_day, lag)").alias("day"),
        )
    )
    prods = (
        anchor.join(
            cent.filter(F.col("event_type") != _XCORR_ANCHOR).select(
                F.col("event_type").alias("pair_type"),
                "day",
                F.col("y").alias("yb"),
            ),
            "day",
        )
        .groupBy("pair_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_overlap_days"),
            F.sum(F.col("ya") * F.col("yb")).cast("long").alias("num"),
        )
    )
    da = dens.filter(F.col("event_type") == _XCORR_ANCHOR).select(
        F.col("den").alias("den_a")
    )
    return (
        prods.crossJoin(F.broadcast(da))
        .join(
            dens.select(
                F.col("event_type").alias("pair_type"),
                F.col("den").alias("den_b"),
            ),
            "pair_type",
        )
        .select(
            "pair_type",
            "lag",
            "n_overlap_days",
            F.expr(
                "CASE WHEN den_a = 0 OR den_b = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)"
                "      * CAST(floor(CAST(num AS DECIMAL(38,0)) * num * 1000"
                "        / (CAST(den_a AS DECIMAL(38,0)) * den_b))"
                "        AS BIGINT) END"
            ).alias("xcorr_r2_signed_permille"),
        )
        .orderBy("pair_type", "lag")
    )

# --- Markov next-event prediction, held-out top-1 accuracy ------------------
#
# The predictive EVAL closing the Markov family (transition_matrix /
# markov_stationary estimate the chain; nothing previously tested it):
# train a first-order argmax predictor on transitions whose successor
# lands before the data-midpoint timestamp, score top-1 accuracy on
# the transitions at-or-after it. The temporal split is the honest
# one for sequence models (random splits leak the future); argmax
# tie-break is (count DESC, successor ASC) so the model is
# deterministic in both engines.

_MARKOV_EVAL_ORACLE = """
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS tmid
        FROM events
    ), seq AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ), pairs AS (
        SELECT s.prev AS prev_type, s.event_type AS next_type,
               epoch_us(s.ts) >= b.tmid AS test
        FROM seq s CROSS JOIN bounds b
        WHERE s.prev IS NOT NULL
    ), model AS (
        SELECT prev_type, next_type AS predicted_type,
               CAST(cnt AS BIGINT) AS n_train_top,
               CAST(tot AS BIGINT) AS n_train
        FROM (
            SELECT prev_type, next_type, count(*) AS cnt,
                   sum(count(*)) OVER (PARTITION BY prev_type) AS tot,
                   row_number() OVER (PARTITION BY prev_type
                                      ORDER BY count(*) DESC,
                                               next_type ASC) AS rn
            FROM pairs WHERE NOT test
            GROUP BY prev_type, next_type
        ) WHERE rn = 1
    ), eval AS (
        SELECT p.prev_type,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(count(*) FILTER (p.next_type = m.predicted_type)
                    AS BIGINT) AS n_correct
        FROM pairs p JOIN model m ON m.prev_type = p.prev_type
        WHERE p.test
        GROUP BY p.prev_type
    )
    SELECT e.prev_type, m.predicted_type, m.n_train, e.n_test,
           e.n_correct,
           CAST(1000 * e.n_correct // e.n_test AS BIGINT)
               AS accuracy_permille
    FROM eval e JOIN model m ON m.prev_type = e.prev_type
    ORDER BY e.prev_type
"""


@register(
    "events_markov_next_event_eval",
    oracle=_MARKOV_EVAL_ORACLE,
    tags=("ml", "eval", "sequence"),
    doc="Held-out top-1 accuracy of the first-order Markov next-event "
    "predictor: per-user event sequences (ordered by ts with event_id "
    "tiebreak) yield (prev, next) transitions; those whose successor "
    "precedes the data-midpoint timestamp train an argmax model "
    "(tie-break count DESC then type ASC — deterministic in both "
    "engines), the rest score it. The TEMPORAL split is the honest "
    "protocol for sequence models — a random split leaks the future "
    "into training. Per-state accuracy against the majority-class "
    "train count exposes whether the chain carries signal beyond the "
    "marginal. One per-user window (shuffle on user_id), one "
    "transition-count rollup to O(types^2) rows, and the model "
    "re-joins the test transitions via a broadcast of that tiny "
    "relation — scan-dominated at any corpus size.",
)
def events_markov_next_event_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "(unix_micros(CAST(min(ts) AS TIMESTAMP))"
            " + unix_micros(CAST(max(ts) AS TIMESTAMP))) div 2"
        ).alias("tmid")
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(wseq).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "prev_type",
            F.col("event_type").alias("next_type"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) >= tmid").alias(
                "test"
            ),
        )
    )
    wrank = Window.partitionBy("prev_type").orderBy(
        F.col("cnt").desc(), F.col("next_type").asc()
    )
    wtot = Window.partitionBy("prev_type")
    model = (
        pairs.filter(~F.col("test"))
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "prev_type",
            F.col("next_type").alias("predicted_type"),
            F.col("cnt").cast("long").alias("n_train_top"),
            F.sum("cnt").over(wtot).cast("long").alias("n_train"),
            F.row_number().over(wrank).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "n_train_top")
    )
    ev_agg = (
        pairs.filter(F.col("test"))
        .join(F.broadcast(model), "prev_type")
        .groupBy("prev_type", "predicted_type", "n_train")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "CAST(count_if(next_type = predicted_type) AS BIGINT)"
            ).alias("n_correct"),
        )
    )
    return ev_agg.select(
        "prev_type",
        "predicted_type",
        "n_train",
        "n_test",
        "n_correct",
        F.expr("CAST(1000 * n_correct div n_test AS BIGINT)").alias(
            "accuracy_permille"
        ),
    ).orderBy("prev_type")

# --- Markov removal-effect attribution ----------------------------------------
#
# The chain-based attribution model completing the family
# (first-touch, time-decay, exact Shapley): user journeys become a
# first-order Markov chain over channels with absorbing CONV/NULL
# states; a channel's credit is its REMOVAL EFFECT — how much the
# chain's conversion probability drops when every transition INTO the
# channel is redirected to NULL (Anderl et al.). Journeys split at
# purchases (the purchase terminates its journey as CONV; trailing
# channel events with no purchase end in NULL). Absorption
# probabilities come from K=12 synchronous value-iteration steps of
# p <- T p on the micro grid — each step one tiny (variant, state)
# join+rollup over the O(channels^2) transition relation, all 5
# variants (full + 4 removals) iterated TOGETHER as one keyed
# relation, and truncating integer division makes every step
# engine-identical. 12 steps bound the tail by (max transient mass)^12
# — document-checked against the fixture's chain depth.

_MRA_ITERS = 12
_MRA_CONV = "purchase"


def _mra_trans_sql() -> str:
    """CTE prefix producing trans(variant, s, t, c, tot)."""
    return f"""
        seq AS MATERIALIZED (
            SELECT user_id, event_type, ts, event_id,
                   COALESCE(sum(CASE WHEN event_type = '{_MRA_CONV}'
                                     THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS jid
            FROM events
        ), jmeta AS MATERIALIZED (
            SELECT user_id, jid,
                   max(CASE WHEN event_type = '{_MRA_CONV}'
                            THEN 1 ELSE 0 END) = 1 AS converted
            FROM seq GROUP BY user_id, jid
        ), ch AS MATERIALIZED (
            SELECT user_id, jid, event_type,
                   row_number() OVER (PARTITION BY user_id, jid
                                      ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id, jid) AS n_ch
            FROM seq WHERE event_type <> '{_MRA_CONV}'
        ), base_trans AS MATERIALIZED (
            SELECT 'START' AS s, event_type AS t
            FROM ch WHERE rn = 1
            UNION ALL
            SELECT a.event_type, b.event_type
            FROM ch a JOIN ch b
              ON b.user_id = a.user_id AND b.jid = a.jid
             AND b.rn = a.rn + 1
            UNION ALL
            SELECT c.event_type,
                   CASE WHEN j.converted THEN 'CONV' ELSE 'NULL' END
            FROM ch c JOIN jmeta j
              ON j.user_id = c.user_id AND j.jid = c.jid
            WHERE c.rn = c.n_ch
            UNION ALL
            SELECT 'START', 'CONV'
            FROM jmeta j
            WHERE j.converted AND NOT EXISTS (
                SELECT 1 FROM ch c
                WHERE c.user_id = j.user_id AND c.jid = j.jid)
        ), channels AS MATERIALIZED (
            SELECT DISTINCT t AS channel FROM base_trans
            WHERE t NOT IN ('CONV', 'NULL')
        ), variants AS MATERIALIZED (
            SELECT 'full' AS variant
            UNION ALL SELECT channel FROM channels
        ), vtrans AS MATERIALIZED (
            SELECT v.variant, bt.s,
                   CASE WHEN bt.t = v.variant THEN 'NULL'
                        ELSE bt.t END AS t,
                   CAST(count(*) AS BIGINT) AS c
            FROM base_trans bt CROSS JOIN variants v
            WHERE bt.s <> v.variant
            GROUP BY v.variant, bt.s,
                     CASE WHEN bt.t = v.variant THEN 'NULL'
                          ELSE bt.t END
        ), trans AS MATERIALIZED (
            SELECT variant, s, t, c,
                   CAST(sum(c) OVER (PARTITION BY variant, s)
                        AS BIGINT) AS tot
            FROM vtrans
        )"""


def _mra_oracle() -> str:
    ctes = [_mra_trans_sql()]
    ctes.append(
        """p0 AS MATERIALIZED (
            SELECT variant, 'CONV' AS state,
                   CAST(1000000 AS BIGINT) AS p
            FROM variants
            UNION ALL
            SELECT variant, 'NULL', CAST(0 AS BIGINT) FROM variants
        )"""
    )
    for i in range(_MRA_ITERS):
        ctes.append(
            f"""p{i + 1} AS MATERIALIZED (
            SELECT t.variant, t.s AS state,
                   CAST(sum(t.c * COALESCE(p.p, 0)) // max(t.tot)
                        AS BIGINT) AS p
            FROM trans t
            LEFT JOIN p{i} p
              ON p.variant = t.variant AND p.state = t.t
            GROUP BY t.variant, t.s
            UNION ALL
            SELECT variant, 'CONV', CAST(1000000 AS BIGINT)
            FROM variants
            UNION ALL
            SELECT variant, 'NULL', CAST(0 AS BIGINT) FROM variants
        )"""
        )
    last = f"p{_MRA_ITERS}"
    return f"""
        WITH {", ".join(ctes)}
        , starts AS (
            SELECT variant, p AS p_start FROM {last}
            WHERE state = 'START'
        ), eff AS (
            SELECT s.variant AS channel,
                   s.p_start AS p_conv_removed_micro,
                   f.p_start AS p_conv_full_micro,
                   CASE WHEN f.p_start = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(1000 - 1000 * s.p_start // f.p_start
                                  AS BIGINT)
                   END AS removal_effect_permille
            FROM starts s
            CROSS JOIN (SELECT p_start FROM starts
                        WHERE variant = 'full') f
            WHERE s.variant <> 'full'
        )
        SELECT channel, p_conv_removed_micro, p_conv_full_micro,
               removal_effect_permille,
               CASE WHEN (SELECT sum(greatest(removal_effect_permille,
                                              0)) FROM eff) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(1000 * greatest(removal_effect_permille,
                                              0)
                         // (SELECT sum(greatest(
                                 removal_effect_permille, 0))
                             FROM eff) AS BIGINT)
               END AS attribution_share_permille
        FROM eff
        ORDER BY channel
    """


# Above this many distinct channels the removal-effect solve stays
# distributed; below it the collected rollup is at most ~C*(C+3)+3 rows
# (s ranges over channels+START, t over channels+CONV/NULL) and 12
# exact-integer iterations over all C+1 variants cost single-digit
# milliseconds driver-side — vs 12 sequential Spark jobs.
_MRA_DRIVER_MAX_CHANNELS = 64


def _mra_solve_driver(spark: SparkSession, rollup) -> DataFrame:
    """Exact driver-side mirror of the distributed (and oracle) solve.

    ``rollup`` is the collected (s, t, c) transition counts. Semantics
    replicated from the SQL arm, 3VL included: a NULL ``s`` never
    passes ``WHERE s <> variant`` (dropped); a NULL ``t`` groups like
    any value, counts toward the row-sum ``tot``, but joins no p-state
    (COALESCE -> contributes 0). All arithmetic is on the micro grid
    with truncating integer division — Python ``//`` on the non-negative
    operands used here is identical to SQL ``div``/``//``.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("channel", StringType()),
            StructField("p_conv_removed_micro", LongType()),
            StructField("p_conv_full_micro", LongType()),
            StructField("removal_effect_permille", LongType()),
            StructField("attribution_share_permille", LongType()),
        ]
    )
    rows = [(r["s"], r["t"], r["c"]) for r in rollup]
    chans = sorted(
        {t for (_s, t, _c) in rows if t is not None and t not in ("CONV", "NULL")}
    )
    p_start: dict[str, int | None] = {}
    for variant in ["full"] + chans:
        agg: dict[tuple, int] = {}
        for s, t, c in rows:
            if s is None or s == variant:  # WHERE bt.s <> variant (3VL)
                continue
            tt = "NULL" if (t is not None and t == variant) else t
            agg[(s, tt)] = agg.get((s, tt), 0) + c
        tot: dict[str, int] = {}
        for (s, _tt), c in agg.items():
            tot[s] = tot.get(s, 0) + c
        p: dict = {"CONV": 1_000_000, "NULL": 0}
        for _ in range(_MRA_ITERS):
            nxt_p = {
                s: sum(c * p.get(tt, 0) for (s2, tt), c in agg.items() if s2 == s)
                // tot[s]
                for s in tot
            }
            nxt_p["CONV"] = 1_000_000
            nxt_p["NULL"] = 0
            p = nxt_p
        p_start[variant] = p.get("START")
    pf = p_start.get("full")
    eff = [
        (
            v,
            p_start[v],
            pf,
            0 if pf == 0 else 1000 - 1000 * p_start[v] // pf,
        )
        for v in chans
        if p_start.get(v) is not None and pf is not None
    ]
    eff_tot = sum(max(e[3], 0) for e in eff)
    out = [
        (
            v,
            rm,
            full,
            perm,
            0 if eff_tot == 0 else 1000 * max(perm, 0) // eff_tot,
        )
        for (v, rm, full, perm) in eff
    ]
    return spark.createDataFrame(out, schema).orderBy("channel")


@register(
    "attribution_markov_removal",
    oracle=_mra_oracle(),
    tags=("analytics", "causal", "attribution", "graph"),
    doc="Markov removal-effect attribution (Anderl et al.) — the "
    "chain-based model completing the attribution family beside "
    "first-touch, time-decay and exact Shapley: journeys split at "
    "purchases, a first-order chain over channels with absorbing "
    "CONV/NULL states, and each channel's credit = the drop in "
    "chain conversion probability when transitions INTO it are "
    "redirected to NULL. Absorption probabilities via K=12 "
    "synchronous value-iteration steps p <- T p on the exact micro "
    "grid (truncating division each step, engine-identical). The "
    "data-sized work is exactly one journey window + one transition "
    "rollup; the solve itself runs over an O(channels^2) relation "
    "whose size is corpus-independent, so below a measured channel-"
    "cardinality gate (64) the rollup is collected once and the SAME "
    "integer iteration runs driver-side in exact Python ints "
    "(sf0.1 warm 6.53 s -> ~1.8 s; arms proven row-identical incl. "
    "the nulls/empty hostile worlds, tests/test_round12_hardening). "
    "Above the gate, all variants (full + one per removed channel) "
    "ride ONE keyed (variant, state) relation: 12 tiny join+rollups. "
    "Output: removal effect and normalized attribution share per "
    "channel.",
)
def attribution_markov_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN event_type = '{_MRA_CONV}'"
                    " THEN 1 ELSE 0 END"
                )
            ).over(wseq.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("jid"),
    )
    jmeta = seq.groupBy("user_id", "jid").agg(
        (
            F.max(
                F.expr(
                    f"CASE WHEN event_type = '{_MRA_CONV}'"
                    " THEN 1 ELSE 0 END"
                )
            )
            == 1
        ).alias("converted")
    )
    wch = W.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    wcht = W.partitionBy("user_id", "jid")
    ch = seq.filter(F.col("event_type") != _MRA_CONV).select(
        "user_id",
        "jid",
        "event_type",
        F.row_number().over(wch).alias("rn"),
        F.count(F.lit(1)).over(wcht).alias("n_ch"),
    )
    t_first = ch.filter("rn = 1").select(
        F.lit("START").alias("s"), F.col("event_type").alias("t")
    )
    nxt = ch.select(
        "user_id",
        "jid",
        (F.col("rn") - 1).alias("rn"),
        F.col("event_type").alias("t"),
    )
    t_mid = (
        ch.select("user_id", "jid", "rn", F.col("event_type").alias("s"))
        .join(nxt, ["user_id", "jid", "rn"])
        .select("s", "t")
    )
    t_last = (
        ch.filter("rn = n_ch")
        .join(jmeta, ["user_id", "jid"])
        .select(
            F.col("event_type").alias("s"),
            F.expr(
                "CASE WHEN converted THEN 'CONV' ELSE 'NULL' END"
            ).alias("t"),
        )
    )
    t_empty = (
        jmeta.filter("converted")
        .join(
            ch.select("user_id", "jid").distinct(),
            ["user_id", "jid"],
            "left_anti",
        )
        .select(F.lit("START").alias("s"), F.lit("CONV").alias("t"))
    )
    base_trans = (
        t_first.unionByName(t_mid)
        .unionByName(t_last)
        .unionByName(t_empty)
        # checkpointed once: the journey window + transition build is
        # the only data-sized lineage; both solve arms (and the channel
        # cardinality gate) reuse it instead of recomputing the window
        .localCheckpoint(eager=True)
    )
    channels = (
        base_trans.select(F.col("t").alias("channel"))
        .filter(~F.col("channel").isin("CONV", "NULL"))
        .distinct()
    )
    # Solve-arm gate (r12, measured): the value iteration runs over an
    # O(variants x channels^2) relation whose size depends ONLY on
    # channel cardinality — never on corpus size — yet the distributed
    # loop pays 12 sequential join+rollup jobs with an eager checkpoint
    # each (sf0.1 warm: 6.53 s, of which the data-sized stages are
    # ~1.5 s). Below the gate the rolled-up transition table (at most
    # ~C*(C+3)+3 rows) is collected once and the SAME truncating-
    # integer iteration runs driver-side in exact Python ints
    # (bit-identical to the SQL arm by construction: both compute
    # p<-(sum c*p) div tot on the micro grid) — same decision as
    # operators/dedup.py's measured-threshold driver union-find. Above
    # the gate (pathological event_type cardinality) the distributed
    # loop below is unchanged.
    if channels.count() <= _MRA_DRIVER_MAX_CHANNELS:
        rollup = (
            base_trans.groupBy("s", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .collect()
        )
        return _mra_solve_driver(spark, rollup)
    variants = F.broadcast(
        channels.select(F.col("channel").alias("variant")).unionByName(
            spark.range(1).select(F.lit("full").alias("variant"))
        )
    )
    vtrans = (
        base_trans.crossJoin(variants)
        .filter(F.col("s") != F.col("variant"))
        .select(
            "variant",
            "s",
            F.expr(
                "CASE WHEN t = variant THEN 'NULL' ELSE t END"
            ).alias("t"),
        )
        .groupBy("variant", "s", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wtot = W.partitionBy("variant", "s")
    trans = vtrans.select(
        "variant",
        "s",
        "t",
        "c",
        F.sum("c").over(wtot).cast("long").alias("tot"),
    ).localCheckpoint(eager=True)
    absorbing = (
        variants.select(
            "variant",
            F.lit("CONV").alias("state"),
            F.lit(1000000).cast("long").alias("p"),
        )
        .unionByName(
            variants.select(
                "variant",
                F.lit("NULL").alias("state"),
                F.lit(0).cast("long").alias("p"),
            )
        )
        .localCheckpoint(eager=True)
    )
    p = absorbing
    for _ in range(_MRA_ITERS):
        step = (
            trans.join(
                p.select(
                    "variant", F.col("state").alias("t"), "p"
                ),
                ["variant", "t"],
                "left",
            )
            .groupBy("variant", "s")
            .agg(
                F.expr(
                    "CAST(sum(c * COALESCE(p, 0)) div max(tot)"
                    " AS BIGINT)"
                ).alias("p")
            )
            .select("variant", F.col("s").alias("state"), "p")
        )
        p = step.unionByName(absorbing).localCheckpoint(eager=True)
    starts = p.filter("state = 'START'").select(
        "variant", F.col("p").alias("p_start")
    )
    full = F.broadcast(
        starts.filter("variant = 'full'").select(
            F.col("p_start").alias("p_full")
        )
    )
    eff = (
        starts.filter("variant <> 'full'")
        .crossJoin(full)
        .select(
            F.col("variant").alias("channel"),
            F.col("p_start").alias("p_conv_removed_micro"),
            F.col("p_full").alias("p_conv_full_micro"),
            F.expr(
                "CASE WHEN p_full = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(1000 - 1000 * p_start div p_full"
                " AS BIGINT) END"
            ).alias("removal_effect_permille"),
        )
    )
    tot_eff = F.broadcast(
        eff.agg(
            F.expr(
                "CAST(sum(greatest(removal_effect_permille, 0))"
                " AS BIGINT)"
            ).alias("eff_tot")
        )
    )
    return (
        eff.crossJoin(tot_eff)
        .select(
            "channel",
            "p_conv_removed_micro",
            "p_conv_full_micro",
            "removal_effect_permille",
            F.expr(
                "CASE WHEN eff_tot = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(1000 * greatest(removal_effect_permille, 0)"
                " div eff_tot AS BIGINT) END"
            ).alias("attribution_share_permille"),
        )
        .orderBy("channel")
    )
