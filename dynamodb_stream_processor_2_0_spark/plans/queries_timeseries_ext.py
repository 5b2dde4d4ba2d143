"""Time-series diagnostics and forecasting over the events table:
autocorrelation, EWMA / Holt / Croston forecasts, Theil-Sen and
Mann-Kendall trend tests, rolling medians, seasonal decomposition and
residual anomalies, changepoints, periodogram, PSI drift, control
charts, Markov stationary distribution, streaks, entropy, and
multi-window SLO burn rates.

Split out of the round-5/6 analytics extension module (one theme per
module).
Every operator is windows + aggregates over a day-spine — no
row-Python — so plans stay inside whole-stage codegen and partition
by series key at any scale.

House arithmetic rules apply: exact BIGINT / DECIMAL grids, truncating
division only on non-negative operands, sign extracted before any
floored ratio, md5-derived hashes shared bit-for-bit with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


# --- autocorrelation diagnostics ------------------------------------------

_ACF_LAGS = 3


def _acf_oracle_sql(lags: int = _ACF_LAGS) -> str:
    # DuckDB window-in-aggregate is illegal; build lagged products in a
    # per-lag projection first.
    prods = ",\n               ".join(
        f"y * lag(y, {k}) OVER (PARTITION BY event_type ORDER BY day) AS p{k}"
        for k in range(1, lags + 1)
    )
    arms = "\n        UNION ALL\n".join(
        f"""        SELECT event_type, {k} AS lag,
               max(n_days) AS n_days,
               CAST(COALESCE(sum(p{k}), 0) AS BIGINT) AS num,
               CAST(sum(y * y) AS BIGINT) AS den
        FROM lagged GROUP BY event_type"""
        for k in range(1, lags + 1)
    )
    return f"""
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
                   count(*) OVER (PARTITION BY event_type) AS n_days,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x
                   - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
                       AS y
            FROM series
        ), lagged AS (
            SELECT event_type, day, n_days, y,
               {prods}
            FROM cent
        )
        SELECT event_type, lag, n_days,
               CASE WHEN den = 0 THEN 0
                    ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)
                         * CAST(floor(CAST(abs(num) AS DECIMAL(38,0)) * 1000
                                      / den) AS BIGINT)
               END AS acf_permille
        FROM ({arms})
        ORDER BY event_type, lag
    """


@register(
    "events_autocorrelation_lags",
    oracle=_acf_oracle_sql(),
    tags=("timeseries", "analytics", "A1"),
    doc="Lag-1..3 autocorrelation of the per-type daily event series "
    "(zero-filled on the shared calendar spine): the standard ACF "
    "estimator r_k = sum(y_t*y_{t-k}) / sum(y_t^2) with y_t = n*x_t - "
    "sum(x) — multiplied through by n so the centering is exact "
    "integer, no rational mean. The only division is the final "
    "permille ratio, computed in DECIMAL(38,0) with the sign "
    "extracted first (Spark div truncates, DuckDB // floors; they "
    "agree only on non-negatives). Periodicity diagnosis (weekly "
    "seasonality shows as positive r_7, bursts as high r_1) that "
    "feeds window-size choices downstream. Shuffle cost: one "
    "(type,day) rollup + one per-type window — both tiny post-agg "
    "relations regardless of raw scale.",
)
def events_autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw scan reduces to |types|x|days| rows before any window;
    the spine/type grid is a broadcast-size cross join by construction
    (1-row bounds aggregate exploded to days)."""
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
    ).agg(F.count(F.lit(1)).alias("x"))
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("x", F.lit(0)).alias("x")
        )
    )
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    cent = series.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(wt).alias("n_days"),
        (
            F.count(F.lit(1)).over(wt).cast("long") * F.col("x")
            - F.sum("x").over(wt).cast("long")
        ).alias("y"),
    )
    lagged = cent.select(
        "event_type",
        "day",
        "n_days",
        "y",
        *[
            (F.col("y") * F.lag("y", k).over(wo)).alias(f"p{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    arms = []
    for k in range(1, _ACF_LAGS + 1):
        arms.append(
            lagged.groupBy("event_type").agg(
                F.lit(k).alias("lag"),
                F.max("n_days").alias("n_days"),
                F.coalesce(F.sum(f"p{k}"), F.lit(0))
                .cast("long")
                .alias("num"),
                F.sum(F.col("y") * F.col("y")).cast("long").alias("den"),
            )
        )
    u = arms[0]
    for a in arms[1:]:
        u = u.unionByName(a)
    return u.select(
        "event_type",
        "lag",
        "n_days",
        F.when(F.col("den") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.when(F.col("num") >= 0, 1).otherwise(-1)
            * F.expr(
                "cast(floor(cast(abs(num) AS decimal(38,0)) * 1000 / den)"
                " AS bigint)"
            )
        )
        .alias("acf_permille"),
    ).orderBy("event_type", "lag")

# --- EWMA smoothing --------------------------------------------------------

_EWMA_DEPTH = 16  # trailing days; weight of lag i is 2^(DEPTH-1-i)


def _ewma_terms(col: str, engine: str) -> str:
    terms = []
    for i in range(_EWMA_DEPTH):
        w = 1 << (_EWMA_DEPTH - 1 - i)
        if engine == "spark":
            lagf = f"coalesce(lag({col}, {i}) OVER (PARTITION BY event_type ORDER BY day), 0)" if i else col
        else:
            lagf = f"COALESCE(lag({col}, {i}) OVER (PARTITION BY event_type ORDER BY day), 0)" if i else col
        terms.append(f"{lagf} * {w}")
    return " + ".join(terms)


_EWMA_WTOT = (1 << _EWMA_DEPTH) - 1


def _holt_sign_div(col: str) -> tuple[str, str]:
    """(duck, spark) sign-extracted truncating division by the dyadic
    weight total — identical on both engines for either sign (Spark
    ``div`` truncates toward zero, DuckDB ``//`` floors; extracting
    the sign and dividing the absolute value makes both arms agree
    for negative weighted sums too, the house rule for engine-
    invariant integer division)."""
    duck = (
        f"(CASE WHEN {col} >= 0 THEN 1 ELSE -1 END)"
        f" * (abs({col}) // {_EWMA_WTOT})"
    )
    spark = (
        f"(CASE WHEN {col} >= 0 THEN 1 ELSE -1 END)"
        f" * (abs({col}) div {_EWMA_WTOT})"
    )
    return duck, spark


_EWMA_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        FROM events
    ), spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ), series AS (
        SELECT t.event_type, s.day, COALESCE(d.cents, 0) AS cents
        FROM types t CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    )
    SELECT event_type, day, raw_cents,
           {_holt_sign_div('wsum')[0]} AS ewma_cents
    FROM (
        SELECT event_type, CAST(day AS VARCHAR) AS day, cents AS raw_cents,
               ({_ewma_terms('cents', 'duck')}) AS wsum
        FROM series
    )
    ORDER BY event_type, day
"""


@register(
    "timeseries_ewma_halflife",
    oracle=_EWMA_ORACLE,
    tags=("timeseries", "analytics", "A1"),
    doc="EWMA smoothing of per-type daily revenue with half-life = 1 "
    "day, made EXACT by using dyadic weights 2^(15-i) over a trailing "
    "16-day horizon: the weighted sum is pure BIGINT (weights are bit "
    "shifts, total weight 2^16-1), the single division is sign-"
    "extracted truncating division (engine-invariant for negative "
    "revenue too) — no float recursion, so the smoothed series "
    "is bit-identical cross-engine and order-independent. The "
    "trailing-horizon form is also the SCALABLE form: a true infinite "
    "EWMA is inherently sequential, while 16 bounded lags stay one "
    "window over the tiny post-agg (type,day) relation.",
)
def timeseries_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 lag terms over the zero-filled spine series; the padded
    prefix (lags before the series start coalesce to 0) is part of
    the operator's definition, applied identically in the oracle."""
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
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("cents", F.lit(0)).alias("cents")
        )
    )
    return (
        series.selectExpr(
            "event_type",
            "date_format(day, 'yyyy-MM-dd') AS day_str",
            "cents AS raw_cents",
            f"({_ewma_terms('cents', 'spark')}) AS wsum",
        )
        .selectExpr(
            "event_type",
            "day_str AS day",
            "raw_cents",
            f"{_holt_sign_div('wsum')[1]} AS ewma_cents",
        )
        .orderBy("event_type", "day")
    )

# --- gaps-and-islands streaks ----------------------------------------------

_STREAK_ORACLE = """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), numbered AS (
        SELECT user_id,
               datediff('day', DATE '1970-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS island
        FROM active
    ), streaks AS (
        SELECT user_id, island, count(*) AS len
        FROM numbered GROUP BY 1, 2
    ), longest AS (
        SELECT user_id, max(len) AS longest_streak
        FROM streaks GROUP BY user_id
    )
    SELECT CAST(longest_streak AS BIGINT) AS streak_days,
           count(*) AS n_users
    FROM longest
    GROUP BY 1
    ORDER BY 1
"""


@register(
    "events_streak_islands",
    oracle=_STREAK_ORACLE,
    tags=("timeseries", "window", "analytics"),
    doc="Gaps-and-islands: longest consecutive-active-day streak per "
    "user via the classic day_number - row_number island key (two "
    "window-free integer subtractions turn consecutive runs into "
    "equal keys), rolled up to a streak-length histogram — the "
    "engagement-streak primitive. All work happens on the distinct "
    "(user, day) relation (|users| x |days| max, tiny vs raw events) "
    "and every shuffle is on user_id — one partition profile "
    "end-to-end.",
)
def events_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """island = epoch_day - row_number is constant exactly while days
    are consecutive; counting per (user, island) yields streak lengths
    without any self-join or lag chain."""
    events = load_table(spark, sf_dir, "events")
    active = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    numbered = active.select(
        "user_id",
        (
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    streaks = numbered.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak")
    )
    return (
        longest.groupBy(
            F.col("longest_streak").cast("long").alias("streak_days")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("streak_days")
    )

# --- Markov stationary distribution ----------------------------------------

_MK_SCALE = 10**12
_MK_ITERS = 3


def _markov_oracle_sql(iters: int = _MK_ITERS) -> str:
    ctes = [
        """seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        )""",
        """cnt AS (
            SELECT event_type AS f, next_type AS t, count(*) AS c
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        )""",
        "rs AS (SELECT f, sum(c) AS s FROM cnt GROUP BY f)",
        "states AS (SELECT DISTINCT event_type AS st FROM events)",
        "ns AS (SELECT count(*) AS n FROM states)",
        f"""p0 AS MATERIALIZED (
            SELECT st, CAST({_MK_SCALE} AS BIGINT) // (SELECT n FROM ns)
                   AS mass
            FROM states
        )""",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(f"""contrib{i} AS (
            SELECT c.t AS st, sum((p.mass * c.c) // r.s) AS m
            FROM p{p} p JOIN cnt c ON c.f = p.st JOIN rs r ON r.f = p.st
            GROUP BY c.t
        ), carry{i} AS (
            SELECT p.st, p.mass
            FROM p{p} p LEFT JOIN rs r ON r.f = p.st
            WHERE r.f IS NULL
        ), p{i} AS (
            SELECT s.st,
                   COALESCE(c.m, 0) + COALESCE(k.mass, 0) AS mass
            FROM states s
            LEFT JOIN contrib{i} c ON c.st = s.st
            LEFT JOIN carry{i} k ON k.st = s.st
        )""")
    return f"""
        WITH {', '.join(ctes)}
        SELECT st AS event_type, CAST(mass AS BIGINT) AS stationary_micro
        FROM p{iters}
        ORDER BY event_type
    """


@register(
    "events_markov_stationary",
    oracle=_markov_oracle_sql(),
    tags=("timeseries", "iterative", "analytics"),
    doc="Stationary distribution of the user-behavior Markov chain: "
    "the events_transition_matrix rollup row-normalized and "
    "power-iterated 3 rounds from uniform, in exact BIGINT mass on a "
    "1e12 grid (truncating division, same discipline as "
    "graph_pagerank_fixpoint) — where user behavior settles, the "
    "long-run mix capacity planning needs. States without outgoing "
    "transitions retain their mass (absorbing). The honest scale "
    "note: the heavy work is the transition rollup over raw events "
    "(one user-keyed window + one map-side-combined (from,to) "
    "count); the iteration then runs on the collapsed "
    "|states|^2 matrix — broadcast-size at any corpus scale.",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    # The power iteration consumes cnt/rs EVERY round: unpinned, the
    # events window + transition rollup recomputed per iteration (the
    # plan carried 72 parquet scans, 0 ReusedExchange). Lazy pins —
    # the transition matrix is |types|^2, the row sums |types|; both
    # tiny at any scale. Explicit broadcasts below keep the per-round
    # joins BHJ (a checkpointed relation loses its size estimate).
    cnt = (
        seq.groupBy("f", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    rs = cnt.groupBy("f").agg(F.sum("c").alias("s")).localCheckpoint(eager=False)
    # states is re-joined every iteration (the mass rebuild) — pinned
    # for the same reason as cnt/rs; the .count() below materializes it.
    states = (
        events.select(F.col("event_type").alias("st"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_states = states.count()
    if n_states == 0:
        # no events -> no chain: empty result, not ZeroDivisionError
        return states.select(
            F.col("st").alias("event_type"),
            F.lit(None).cast("long").alias("stationary_micro"),
        )
    p = states.withColumn("mass", F.lit(_MK_SCALE // n_states))
    for _ in range(_MK_ITERS):
        contrib = (
            p.join(F.broadcast(cnt), p["st"] == cnt["f"])
            .join(F.broadcast(rs), "f")
            .select(F.col("t").alias("st"), F.expr("mass * c div s").alias("m"))
            .groupBy("st")
            .agg(F.sum("m").alias("m"))
        )
        carry = (
            p.join(F.broadcast(rs), p["st"] == rs["f"], "left_anti")
            .select("st", F.col("mass").alias("k"))
        )
        p = (
            states.join(F.broadcast(contrib), "st", "left")
            .join(F.broadcast(carry), "st", "left")
            .select(
                "st",
                (
                    F.coalesce("m", F.lit(0)) + F.coalesce("k", F.lit(0))
                ).alias("mass"),
            )
        )
    return p.select(
        F.col("st").alias("event_type"),
        F.col("mass").cast("long").alias("stationary_micro"),
    ).orderBy("event_type")

# --- behavioral entropy ----------------------------------------------------

_ENTROPY_ORACLE = """
    WITH c AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ), nt AS (
        SELECT user_id, sum(cnt) AS n, count(*) AS n_types
        FROM c GROUP BY user_id
    ), u AS (
        SELECT c.user_id, nt.n, nt.n_types,
               CAST(sum(c.cnt * (length(bin(nt.n // c.cnt)) - 1)) AS BIGINT)
                   AS wbits
        FROM c JOIN nt USING (user_id)
        GROUP BY c.user_id, nt.n, nt.n_types
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events, n_types,
           CAST(wbits * 1000 // n AS BIGINT) AS entropy_millibits
    FROM u
    ORDER BY user_id
"""


@register(
    "events_entropy_by_user",
    oracle=_ENTROPY_ORACLE,
    tags=("analytics", "quality", "F10"),
    doc="Behavioral entropy per user: Shannon entropy of each user's "
    "event-type distribution, integer-exact via the surprisal trick — "
    "bits(p) ~ length(bin(n div cnt)) - 1 = floor(log2(n/cnt)), so a "
    "probability-1 outcome scores exactly 0 bits (a single-action user "
    "gets entropy 0, not a hidden +1-bit floor) and "
    "H_milli = sum(cnt*bits)*1000 div n needs no libm log. Low "
    "entropy = single-action automation, high = diverse human "
    "behavior; the diversity complement to events_bot_regularity_"
    "score's timing regularity (both feed the same evidence-based "
    "blocklist, reference F10, index.js:433-439). One (user,type) "
    "rollup + one per-user window-free second rollup.",
)
def events_entropy_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DuckDB twin nests a window inside the aggregate arguments
    (legal there); Spark computes n with a second grouped pass joined
    back — same relation sizes, both |users| x |types| max."""
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n = c.groupBy("user_id").agg(F.sum("cnt").alias("n"))
    return (
        c.join(n, "user_id")
        .withColumn("bits", F.length(F.bin(F.expr("n div cnt"))) - F.lit(1))
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.expr(
                "cast(sum(cnt * bits) * 1000 div max(n) AS bigint)"
            ).alias("entropy_millibits"),
        )
        .orderBy("user_id")
    )

# --- Shewhart control chart (sqrt-free) ------------------------------------

_CONTROL_ORACLE = """
    WITH d AS (
        SELECT l_suppkey,
               datediff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS delay
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), m AS (
        SELECT l_suppkey,
               count(*) AS n,
               CAST(sum(delay) AS BIGINT) AS s,
               CAST(sum(delay * delay) AS BIGINT) AS q
        FROM d GROUP BY l_suppkey
    ), flags AS (
        SELECT d.l_suppkey, m.n, m.s, m.q,
               CASE WHEN (m.n * d.delay - m.s) * (m.n * d.delay - m.s)
                         > 9 * (m.n * m.q - m.s * m.s)
                    THEN 1 ELSE 0 END AS ooc
        FROM d JOIN m USING (l_suppkey)
    )
    SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
           CAST(max(n) AS BIGINT) AS n_shipments,
           (CASE WHEN max(s) >= 0 THEN 1 ELSE -1 END)
               * CAST((abs(max(s)) * 1000) // max(n) AS BIGINT)
               AS mean_delay_milli,
           CAST(sum(ooc) AS BIGINT) AS n_out_of_control,
           sum(ooc) = 0 AS is_stable
    FROM flags
    GROUP BY l_suppkey
    ORDER BY suppkey
"""


@register(
    "supplier_delay_control_chart",
    oracle=_CONTROL_ORACLE,
    tags=("analytics", "quality", "A1"),
    doc="Shewhart 3-sigma control chart on per-supplier order-to-ship "
    "delay (l_shipdate - o_orderdate), sqrt-free: the out-of-control test "
    "(d - mean)^2 > 9*var multiplies through by n^2 to "
    "(n*d - S)^2 > 9*(n*Q - S^2) — pure BIGINT, no sqrt, no float, "
    "so the flag is bit-identical cross-engine (libm sqrt is not). "
    "The process-quality upgrade of q21's late-supplier count: not "
    "just WHO is late, but whose delivery process is out of "
    "statistical control. One moment aggregate + one re-join of the "
    "raw delays against their supplier's moments (both shuffle on "
    "suppkey; the moments side is |suppliers| rows).",
)
def supplier_delay_control_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    d = lineitem.join(
        orders, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "delay"
        ),
    )
    m = d.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("delay").cast("long").alias("s"),
        F.sum(F.col("delay") * F.col("delay")).cast("long").alias("q"),
    )
    flags = d.join(m, "l_suppkey").withColumn(
        "ooc",
        F.when(
            (F.col("n") * F.col("delay") - F.col("s"))
            * (F.col("n") * F.col("delay") - F.col("s"))
            > 9 * (F.col("n") * F.col("q") - F.col("s") * F.col("s")),
            1,
        ).otherwise(0),
    )
    return (
        flags.groupBy(F.col("l_suppkey").cast("long").alias("suppkey"))
        .agg(
            F.max("n").cast("long").alias("n_shipments"),
            (
                F.when(F.max("s") >= 0, 1).otherwise(-1)
                * F.expr("abs(max(s)) * 1000 div max(n)")
            )
            .cast("long")
            .alias("mean_delay_milli"),
            F.sum("ooc").cast("long").alias("n_out_of_control"),
            (F.sum("ooc") == 0).alias("is_stable"),
        )
        .orderBy("suppkey")
    )

# --- Holt double-exponential forecast --------------------------------------

_HOLT_TAIL_DAYS = 7


_HOLT_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        FROM events
    ), spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ), series AS (
        SELECT t.event_type, s.day, COALESCE(d.cents, 0) AS cents,
               (SELECT d1 FROM bounds) AS max_day
        FROM types t CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    ), dx AS (
        SELECT event_type, day, cents, max_day,
               cents - COALESCE(lag(cents) OVER (
                   PARTITION BY event_type ORDER BY day), 0) AS d
        FROM series
    ), lt AS (
        SELECT event_type, day, cents, max_day,
               ({_ewma_terms('cents', 'duck')}) AS wl,
               ({_ewma_terms('d', 'duck')}) AS wb
        FROM dx
    ), st AS (
        SELECT event_type, day, cents, max_day,
               {_holt_sign_div('wl')[0]} AS level,
               {_holt_sign_div('wb')[0]} AS trend
        FROM lt
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           cents AS actual_cents,
           lag(level) OVER w + lag(trend) OVER w AS forecast_cents,
           abs(cents - (lag(level) OVER w + lag(trend) OVER w)) AS abs_err
    FROM st
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    QUALIFY day > max_day - {_HOLT_TAIL_DAYS}
        AND lag(level) OVER w IS NOT NULL
    ORDER BY event_type, day
"""


@register(
    "timeseries_holt_forecast",
    oracle=_HOLT_ORACLE,
    tags=("timeseries", "analytics", "forecast"),
    doc="Holt double-exponential forecast on per-type daily revenue: "
    "level = dyadic-weight EWMA of the series, trend = dyadic EWMA of "
    "its first differences (sign-extracted truncating division — "
    "differences go negative), one-step-ahead forecast = lagged level "
    "+ lagged trend, backtested over the final week with absolute "
    "errors. Like timeseries_ewma_halflife, the bounded dyadic FIR "
    "form is both the EXACT form (pure BIGINT, bit-identical "
    "cross-engine) and the SCALABLE form (a true Holt recursion is "
    "sequential; 16 bounded lags are one window over the tiny "
    "(type, day) rollup).",
)
def timeseries_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    wo = Window.partitionBy("event_type").orderBy("day")
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
        # the series end is the bounds aggregate's d1 — a broadcast
        # 1-row cross join, never a global window
        .crossJoin(F.broadcast(bounds.select(F.col("d1").alias("max_day"))))
    )
    dx = series.withColumn(
        "d",
        F.col("cents") - F.coalesce(F.lag("cents").over(wo), F.lit(0)),
    )
    st = dx.selectExpr(
        "event_type",
        "day",
        "cents",
        "max_day",
        f"({_ewma_terms('cents', 'spark')}) AS wl",
        f"({_ewma_terms('d', 'spark')}) AS wb",
    ).selectExpr(
        "event_type",
        "day",
        "cents",
        "max_day",
        f"{_holt_sign_div('wl')[1]} AS level",
        f"{_holt_sign_div('wb')[1]} AS trend",
    )
    out = st.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day_str"),
        F.col("day"),
        F.col("max_day"),
        F.col("cents").alias("actual_cents"),
        (F.lag("level").over(wo) + F.lag("trend").over(wo)).alias(
            "forecast_cents"
        ),
    )
    return (
        out.filter(
            (F.col("day") > F.date_sub(F.col("max_day"), _HOLT_TAIL_DAYS))
            & F.col("forecast_cents").isNotNull()
        )
        .select(
            "event_type",
            F.col("day_str").alias("day"),
            "actual_cents",
            "forecast_cents",
            F.abs(F.col("actual_cents") - F.col("forecast_cents")).alias(
                "abs_err"
            ),
        )
        .orderBy("event_type", "day")
    )

# --- Theil-Sen robust trend (round 6) --------------------------------------

_THEIL_SEN_WINDOW_DAYS = 90

_THEIL_SEN_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(max(ts) AS DATE) AS d1 FROM events
    ), daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events, bounds
        WHERE CAST(ts AS DATE) > d1 - {_THEIL_SEN_WINDOW_DAYS}
        GROUP BY 1, 2
    ), slopes AS (
        SELECT a.event_type,
               a.day AS day1, b.day AS day2,
               (CASE WHEN b.cents - a.cents >= 0 THEN 1 ELSE -1 END)
                   * (abs(b.cents - a.cents) * 1000
                      // datediff('day', a.day, b.day)) AS slope_milli
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    ), ranked AS (
        SELECT event_type, slope_milli,
               row_number() OVER (PARTITION BY event_type
                   ORDER BY slope_milli ASC, day1 ASC, day2 ASC) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_pairs
        FROM slopes
    )
    SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(slope_milli AS BIGINT) AS median_slope_milli
    FROM ranked
    WHERE rn = (n_pairs + 1) // 2
    ORDER BY event_type
"""


@register(
    "events_theil_sen_trend",
    oracle=_THEIL_SEN_ORACLE,
    tags=("timeseries", "analytics", "robust", "scale"),
    doc="Theil-Sen robust trend estimator per event type: the median "
    "of all pairwise slopes of the trailing-90-day daily-revenue "
    "series — up to ~29% outlier days cannot move it, unlike the "
    "least-squares slope (events_trend_slope_by_type), its "
    "non-robust twin. Each pair slope is exact sign-extracted "
    "integer milli-cents/day; the median is the LOWER median over a "
    "totally-ordered (slope, day1, day2) ranking, so no "
    "interpolation and no cross-engine ties. The Spark plan folds "
    "each type's series into ONE sorted basket and enumerates pairs "
    "in-basket codegen-side (the market_basket_pairs bound: "
    "C(window,2) pairs per type regardless of corpus size — the "
    "90-day window is what makes the quadratic pair space a "
    "constant); the oracle is the declarative self-join, proving "
    "the basket rewrite exact.",
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair space is per-type C(<=90, 2) <= 4005 — bounded by the
    trailing window, not by data size; one basket-fold shuffle on
    event_type plus one window over the tiny slope relation."""
    events = load_table(spark, sf_dir, "events")
    bound = events.agg(
        F.date_sub(F.max(F.to_date("ts")), _THEIL_SEN_WINDOW_DAYS).alias(
            "d0"
        )
    )
    daily = (
        events.crossJoin(F.broadcast(bound))
        .filter(F.to_date("ts") > F.col("d0"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    baskets = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("ps")
    )
    slopes = baskets.select(
        "event_type",
        F.explode(
            F.expr(
                "flatten(transform(ps, (a, i) -> "
                "transform(slice(ps, i + 2, size(ps)), b -> struct("
                "a.day AS day1, b.day AS day2, "
                "(CASE WHEN b.cents - a.cents >= 0 THEN 1 ELSE -1 END)"
                " * (abs(b.cents - a.cents) * 1000"
                "    div datediff(b.day, a.day)) AS slope_milli))))"
            )
        ).alias("pr"),
    ).select("event_type", "pr.day1", "pr.day2", "pr.slope_milli")
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("slope_milli").asc(), F.col("day1").asc(), F.col("day2").asc()
    )
    wcnt = Window.partitionBy("event_type")
    return (
        slopes.withColumn("rn", F.row_number().over(wrank))
        .withColumn("n_pairs", F.count(F.lit(1)).over(wcnt))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "event_type",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope_milli").cast("long").alias("median_slope_milli"),
        )
        .orderBy("event_type")
    )

# --- rolling 7-day median (order-statistic sliding window) -----------------

_ROLLMED_ORACLE = """
    WITH bounds AS (
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
    ), series AS (
        SELECT t.event_type, s.day, COALESCE(d.cents, 0) AS cents
        FROM types t CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    ), windowed AS (
        SELECT event_type, day, cents,
               list(cents) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
        FROM series
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, cents AS raw_cents,
           CAST(list_sort(win)[(len(win) + 1) // 2] AS BIGINT)
               AS med7_cents
    FROM windowed
    ORDER BY event_type, day
"""


@register(
    "timeseries_rolling_median_7d",
    oracle=_ROLLMED_ORACLE,
    tags=("timeseries", "analytics", "robust"),
    doc="Rolling 7-day LOWER-median of per-type daily revenue over the "
    "zero-filled calendar spine: the order-statistic sliding window "
    "a mean-based smoother (timeseries_ewma_halflife) can't express "
    "— one spiky day moves the EWMA but not the median. The frame "
    "is ROWS BETWEEN 6 PRECEDING AND CURRENT ROW, the median is the "
    "exact element at position (n+1) div 2 of the sorted frame "
    "(lower median: no interpolation, pure BIGINT, identical "
    "cross-engine), and the ramp-up rows (frames of 1..6 days) are "
    "part of the operator's definition in both arms. Scale shape: "
    "the frame is 7 elements by construction, so per-row work is "
    "O(7 log 7) and state never grows with data — the post-agg "
    "(type, day) relation is the only thing windowed.",
)
def timeseries_rolling_median_7d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """collect_list over a 7-row frame + sort_array + element_at —
    the whole median is codegen-side array arithmetic on a bounded
    frame, no UDF."""
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
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("cents", F.lit(0)).alias("cents")
        )
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        series.withColumn("win", F.sort_array(F.collect_list("cents").over(w7)))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("cents").alias("raw_cents"),
            F.expr(
                "cast(element_at(win, cast((size(win) + 1) div 2 as int))"
                " as bigint)"
            ).alias("med7_cents"),
        )
        .orderBy("event_type", "day")
    )

# --- seasonal decomposition ------------------------------------------------

_SEASDEC_ORACLE = """
    WITH bounds AS (
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
    ), series AS (
        SELECT t.event_type, s.day, COALESCE(d.cents, 0) AS cents,
               datediff('day', DATE '2024-01-01', s.day) % 7 AS dow
        FROM types t CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    ), trended AS (
        SELECT event_type, day, dow, cents,
               cents - CAST(list_sort(list(cents) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
                   [(len(list(cents) OVER (PARTITION BY event_type
                     ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT
                     ROW)) + 1) // 2] AS BIGINT) AS detr
        FROM series
    ), seasonal AS (
        SELECT event_type, dow,
               CAST(count(*) AS BIGINT) AS n_days,
               (CASE WHEN sum(detr) >= 0 THEN 1 ELSE -1 END)
                   * (abs(CAST(sum(detr) AS BIGINT)) // count(*))
                   AS seasonal_cents
        FROM trended GROUP BY 1, 2
    ), resid AS (
        SELECT t.event_type,
               CAST(sum(abs(t.detr - s.seasonal_cents)) AS BIGINT)
                   AS resid_abs,
               CAST(sum(abs(t.detr)) AS BIGINT) AS detr_abs
        FROM trended t
        JOIN seasonal s
          ON s.event_type = t.event_type AND s.dow = t.dow
        GROUP BY t.event_type
    )
    SELECT s.event_type, CAST(s.dow AS BIGINT) AS dow, s.n_days,
           CAST(s.seasonal_cents AS BIGINT) AS seasonal_cents,
           CAST(CASE WHEN r.detr_abs > 0
                THEN 1000 - r.resid_abs * 1000 // r.detr_abs
                ELSE 0 END AS BIGINT) AS explained_permille
    FROM seasonal s JOIN resid r ON r.event_type = s.event_type
    ORDER BY s.event_type, s.dow
"""

@register(
    "timeseries_seasonal_decompose",
    oracle=_SEASDEC_ORACLE,
    tags=("timeseries", "forecast", "robust"),
    doc="Robust seasonal decomposition (STL-lite): trend = the trailing "
    "7-day LOWER median (the registered rolling-median smoother, "
    "outlier-immune), seasonal = per day-of-week sign-extracted "
    "truncating mean of the detrended series, residual = what's left "
    "— with the per-type variance-explained ratio (1000 - "
    "sum|resid| / sum|detrended| permille) saying how much of the "
    "non-trend movement the weekly cycle accounts for. Day-of-week "
    "is pure arithmetic (days since 2024-01-01 mod 7), never the "
    "engine-dependent dayofweek() convention (Spark Sunday=1, DuckDB "
    "Sunday=0). The capstone that composes the forecasting family's "
    "pieces — gap-fill spine, order-statistic window, sign-safe "
    "division — into the decomposition every seasonal forecaster "
    "starts from. Plan: spine join + one 7-row frame window + one "
    "(type,dow) rollup + one per-type rollup, all on the (type,day) "
    "post-agg relation.",
)
def timeseries_seasonal_decompose(
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
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("cents", F.lit(0)).alias("cents"),
            (
                F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
                % 7
            ).alias("dow"),
        )
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    trended = series.withColumn(
        "win", F.sort_array(F.collect_list("cents").over(w7))
    ).select(
        "event_type",
        "dow",
        F.expr(
            "cents - cast(element_at(win,"
            " cast((size(win) + 1) div 2 as int)) as bigint)"
        ).alias("detr"),
    ).localCheckpoint(eager=False)
    seasonal = trended.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(
            "(CASE WHEN sum(detr) >= 0 THEN 1 ELSE -1 END)"
            " * (abs(cast(sum(detr) as bigint)) div count(*))"
        )
        .cast("long")
        .alias("seasonal_cents"),
    )
    resid = (
        trended.join(
            F.broadcast(
                seasonal.select("event_type", "dow", "seasonal_cents")
            ),
            ["event_type", "dow"],
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.abs(F.col("detr") - F.col("seasonal_cents")))
            .cast("long")
            .alias("resid_abs"),
            F.sum(F.abs("detr")).cast("long").alias("detr_abs"),
        )
    )
    return (
        seasonal.join(resid, "event_type")
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            "n_days",
            "seasonal_cents",
            F.when(
                F.col("detr_abs") > 0,
                F.lit(1000)
                - F.expr("resid_abs * 1000 div detr_abs"),
            )
            .otherwise(0)
            .cast("long")
            .alias("explained_permille"),
        )
        .orderBy("event_type", "dow")
    )

# --- MAD robust anomaly detection (round 6) --------------------------------

# Flag rule: |dev| > 3.5 * 1.4826 * MAD, cross-multiplied onto the
# integer grid as 100000*|dev| > 518910*MAD (3.5*1.4826 = 5.1891) —
# no division, no float, engine-invariant.
_MAD_NUM = 100_000
_MAD_THRESH = 518_910

_MAD_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ), med AS (
        SELECT event_type, cents AS median_cents
        FROM (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY cents ASC, day ASC) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ), devs AS (
        SELECT d.event_type, d.day, d.cents,
               abs(d.cents - m.median_cents) AS dev
        FROM daily d JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, dev AS mad_cents
        FROM (
            SELECT event_type, dev,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY dev ASC, day ASC) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM devs
        ) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(m.median_cents) AS BIGINT) AS median_cents,
           CAST(max(a.mad_cents) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN {_MAD_NUM} * d.dev
                              > {_MAD_THRESH} * a.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM devs d
    JOIN med m ON m.event_type = d.event_type
    JOIN mad a ON a.event_type = d.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
"""


@register(
    "events_anomaly_mad",
    oracle=_MAD_ORACLE,
    tags=("timeseries", "analytics", "robust", "quality"),
    doc="Robust anomaly detection on per-type daily revenue: median / "
    "MAD (median absolute deviation) replace mean / sigma, so "
    "anomalous days cannot inflate the very scale used to judge "
    "them — the breakdown-resistant complement to the Shewhart "
    "3-sigma chart (supplier_delay_control_chart), which a few "
    "extreme days can blind. Both medians are exact LOWER medians "
    "over totally-ordered rankings, and the 3.5-sigma-equivalent "
    "flag (|dev| > 3.5*1.4826*MAD) is cross-multiplied to "
    "100000*|dev| > 518910*MAD — zero divisions, pure BIGINT. Plan: "
    "two ranked passes over the tiny post-agg (type, day) relation "
    "plus one rollup; all shuffles are on event_type.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    wmed = Window.partitionBy("event_type").orderBy(
        F.col("cents").asc(), F.col("day").asc()
    )
    wn = Window.partitionBy("event_type")
    med = (
        daily.withColumn("rn", F.row_number().over(wmed))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("cents").alias("median_cents"))
    )
    devs = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("cents") - F.col("median_cents"))
    )
    wmad = Window.partitionBy("event_type").orderBy(
        F.col("dev").asc(), F.col("day").asc()
    )
    mad = (
        devs.withColumn("rn", F.row_number().over(wmad))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("dev").alias("mad_cents"))
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("median_cents").cast("long").alias("median_cents"),
            F.max("mad_cents").cast("long").alias("mad_cents"),
            F.sum(
                (
                    F.col("dev") * _MAD_NUM
                    > F.col("mad_cents") * _MAD_THRESH
                ).cast("long")
            )
            .cast("long")
            .alias("n_anomalies"),
        )
        .orderBy("event_type")
    )

# --- Croston intermittent-demand forecast (round 6) ------------------------

_CROSTON_DEPTH = 8  # trailing demand OCCURRENCES (not calendar days)
_CROSTON_WTOT = (1 << _CROSTON_DEPTH) - 1


def _croston_terms(col: str, engine: str) -> str:
    terms = []
    for i in range(_CROSTON_DEPTH):
        w = 1 << (_CROSTON_DEPTH - 1 - i)
        lag = (
            f"coalesce(lag({col}, {i}) OVER (PARTITION BY user_id "
            f"ORDER BY day), 0)"
            if i
            else col
        )
        terms.append(f"{lag} * {w}")
    return " + ".join(terms)


_CROSTON_ORACLE = f"""
    WITH demand AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS size_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), gaps AS (
        SELECT user_id, day, size_cents,
               datediff('day', lag(day) OVER (
                   PARTITION BY user_id ORDER BY day), day) AS gap_days,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY day DESC) AS rev_rn,
               count(*) OVER (PARTITION BY user_id) AS n_demand_days
        FROM demand
    ), g2 AS (
        SELECT user_id, day, size_cents,
               COALESCE(gap_days, 0) AS gap_milli_src, n_demand_days,
               rev_rn,
               COALESCE(gap_days, 0) * 1000 AS gap_milli
        FROM gaps
    ), smoothed AS (
        SELECT user_id, n_demand_days, rev_rn,
               ({_croston_terms('size_cents', 'duck')})
                   // {_CROSTON_WTOT} AS size_ewma_cents,
               ({_croston_terms('gap_milli', 'duck')})
                   // {_CROSTON_WTOT} AS interval_ewma_milli
        FROM g2
    )
    SELECT user_id,
           CAST(n_demand_days AS BIGINT) AS n_demand_days,
           CAST(size_ewma_cents AS BIGINT) AS size_ewma_cents,
           CAST(interval_ewma_milli AS BIGINT) AS interval_ewma_milli,
           CAST(size_ewma_cents * 1000000 // interval_ewma_milli
               AS BIGINT) AS croston_daily_millicents
    FROM smoothed
    WHERE rev_rn = 1 AND n_demand_days >= 2
    ORDER BY user_id
"""


@register(
    "timeseries_croston_forecast",
    oracle=_CROSTON_ORACLE,
    tags=("timeseries", "analytics", "forecast"),
    doc="Croston's method for INTERMITTENT demand: per-user purchase "
    "streams are mostly-zero series where ordinary smoothing decays "
    "toward zero between purchases, so Croston smooths two dense "
    "sub-series instead — demand SIZE over demand occurrences and "
    "the INTER-DEMAND GAP — and forecasts rate = size/interval. "
    "Both EWMAs use the house dyadic-weight trailing-8 form (bit-"
    "shift weights over OCCURRENCE index, not calendar lags), the "
    "zero-padded short history is part of the operator definition, "
    "and the final rate division is truncating on non-negatives — "
    "bit-identical cross-engine. Emitted at each user's latest "
    "demand (the live estimate); users with one purchase have no "
    "interval and are excluded. One shuffle on user_id; windows are "
    "single ordered passes per user.",
)
def timeseries_croston_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    demand = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("size_cents")
        )
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    wrev = Window.partitionBy("user_id").orderBy(F.col("day").desc())
    wall = Window.partitionBy("user_id")
    g2 = (
        demand.withColumn(
            "gap_milli",
            F.coalesce(
                F.datediff(F.col("day"), F.lag("day").over(wu)), F.lit(0)
            )
            * 1000,
        )
        .withColumn("rev_rn", F.row_number().over(wrev))
        .withColumn("n_demand_days", F.count(F.lit(1)).over(wall))
    )
    smoothed = g2.selectExpr(
        "user_id",
        "n_demand_days",
        "rev_rn",
        f"({_croston_terms('size_cents', 'spark')})"
        f" div {_CROSTON_WTOT} AS size_ewma_cents",
        f"({_croston_terms('gap_milli', 'spark')})"
        f" div {_CROSTON_WTOT} AS interval_ewma_milli",
    )
    return (
        smoothed.filter(
            (F.col("rev_rn") == 1) & (F.col("n_demand_days") >= 2)
        )
        .select(
            "user_id",
            F.col("n_demand_days").cast("long").alias("n_demand_days"),
            F.col("size_ewma_cents").cast("long").alias("size_ewma_cents"),
            F.col("interval_ewma_milli")
            .cast("long")
            .alias("interval_ewma_milli"),
            F.expr(
                "cast(size_ewma_cents * 1000000 div interval_ewma_milli"
                " as bigint)"
            ).alias("croston_daily_millicents"),
        )
        .orderBy("user_id")
    )

# --- PSI distribution-drift monitor ----------------------------------------

_PSI_ORACLE = """
    WITH ev AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS d,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), bounds AS (
        SELECT (min(d) + max(d) + 1) // 2 AS mid, max(cents) AS maxc FROM ev
    ), banded AS (
        SELECT event_type,
               CASE WHEN d < (SELECT mid FROM bounds) THEN 0 ELSE 1 END
                   AS cur,
               least(9, greatest(0, cents) * 10
                        // ((SELECT maxc FROM bounds) + 1)) AS band
        FROM ev
    ), types AS (
        SELECT DISTINCT event_type FROM ev
    ), grid AS (
        SELECT t.event_type, r.range AS band
        FROM types t CROSS JOIN range(10) r
    ), counts AS (
        SELECT event_type, band,
               sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS c_ref,
               sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS c_cur
        FROM banded GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, sum(c_ref) AS n_ref, sum(c_cur) AS n_cur
        FROM counts GROUP BY 1
    ), grid_full AS (
        SELECT g.event_type, g.band,
               COALESCE(c.c_ref, 0) AS c_ref, COALESCE(c.c_cur, 0) AS c_cur,
               t.n_ref, t.n_cur
        FROM grid g
        LEFT JOIN counts c
            ON c.event_type = g.event_type AND c.band = g.band
        JOIN tot t ON t.event_type = g.event_type
    ), pm AS (
        SELECT event_type, n_ref, n_cur,
               greatest(1, (c_ref + 1) * 1000 // (n_ref + 10)) AS p,
               greatest(1, (c_cur + 1) * 1000 // (n_cur + 10)) AS q
        FROM grid_full
    ), terms AS (
        SELECT event_type, n_ref, n_cur,
               (p - q) * (CASE WHEN p >= q
                               THEN length(bin(p // q)) - 1
                               ELSE -(length(bin(q // p)) - 1) END) AS term
        FROM pm
    )
    SELECT event_type,
           CAST(max(n_ref) AS BIGINT) AS n_ref,
           CAST(max(n_cur) AS BIGINT) AS n_cur,
           CAST(sum(term) AS BIGINT) AS psi_millibits,
           sum(term) > 50 AS drift_flag
    FROM terms GROUP BY event_type ORDER BY event_type
"""


@register(
    "events_psi_drift",
    oracle=_PSI_ORACLE,
    tags=("timeseries", "stats", "llm"),
    doc="Population Stability Index drift monitor: per event type, the "
    "value distribution of the later half of the timeline vs the "
    "earlier half over 10 fixed value bands, PSI = sum (p-q) * "
    "log(p/q) — THE model-ops drift metric (credit-scoring heritage), "
    "the binned complement to the exact-CDF KS test already "
    "registered. House integer discipline: proportions are add-one-"
    "smoothed milli-grid integers clamped >= 1, the log is the sign-"
    "extracted bitlen floor-log2 surrogate (documented: ratios < 2 "
    "contribute 0, so this is a coarse-quantized PSI, deterministic "
    "cross-engine, not the ln-based decimal), and the drift flag cuts "
    "at 50 milli-bit-units. Plan: one scan feeds a 1-row bounds "
    "aggregate (broadcast), banding is scan-side arithmetic, counts "
    "are one groupBy(type, band), the 10-band grid is generated not "
    "scanned — linear in events, output one row per type.",
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = F.broadcast(
        ev.agg(
            F.expr("(min(d) + max(d) + 1) div 2").alias("mid"),
            F.max("cents").alias("maxc"),
        )
    )
    banded = ev.crossJoin(bounds).select(
        "event_type",
        F.when(F.col("d") < F.col("mid"), 0).otherwise(1).alias("cur"),
        F.least(
            F.lit(9),
            F.expr("greatest(0L, cents) * 10 div (maxc + 1)"),
        ).alias("band"),
    )
    counts = banded.groupBy("event_type", "band").agg(
        F.sum(F.when(F.col("cur") == 0, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("cur") == 1, 1).otherwise(0)).alias("c_cur"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    grid = tot.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("band"),
    )
    full = grid.join(counts, ["event_type", "band"], "left").select(
        "event_type",
        "n_ref",
        "n_cur",
        F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
        F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
    )
    pm = full.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.expr("greatest(1L, (c_ref + 1) * 1000 div (n_ref + 10))").alias("p"),
        F.expr("greatest(1L, (c_cur + 1) * 1000 div (n_cur + 10))").alias("q"),
    )
    terms = pm.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.expr(
            "(p - q) * (CASE WHEN p >= q"
            " THEN length(bin(p div q)) - 1"
            " ELSE -(length(bin(q div p)) - 1) END)"
        ).alias("term"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.sum("term").cast("long").alias("psi_millibits"),
            (F.sum("term") > 50).alias("drift_flag"),
        )
        .orderBy("event_type")
    )

# --- MASE forecast backtest ------------------------------------------------

_MASE_ORACLE = """
    WITH ev AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS d,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), bounds AS (
        SELECT min(d) AS d0, max(d) AS d1 FROM ev
    ), types AS (
        SELECT DISTINCT event_type FROM ev
    ), spine AS (
        SELECT t.event_type, s.d
        FROM types t
        CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS d
                    FROM bounds) s
    ), daily AS (
        SELECT event_type, d, CAST(sum(cents) AS BIGINT) AS y
        FROM ev GROUP BY 1, 2
    ), series AS (
        SELECT s.event_type, s.d, COALESCE(dy.y, 0) AS y,
               lag(COALESCE(dy.y, 0), 1) OVER w AS y1,
               lag(COALESCE(dy.y, 0), 7) OVER w AS y7
        FROM spine s LEFT JOIN daily dy USING (event_type, d)
        WINDOW w AS (PARTITION BY s.event_type ORDER BY s.d)
    ), scored AS (
        SELECT event_type, d, y, y1, y7,
               d > (SELECT d1 FROM bounds) - 7 AS holdout
        FROM series
    ), agg AS (
        SELECT event_type,
               CAST(sum(CASE WHEN holdout AND y1 IS NOT NULL
                             THEN abs(y - y1) END) AS BIGINT) AS s_naive,
               CAST(sum(CASE WHEN holdout AND y7 IS NOT NULL
                             THEN abs(y - y7) END) AS BIGINT) AS s_snaive,
               CAST(sum(CASE WHEN NOT holdout AND y1 IS NOT NULL
                             THEN abs(y - y1) END) AS BIGINT) AS s_train,
               CAST(sum(CASE WHEN NOT holdout AND y1 IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS m_train
        FROM scored GROUP BY event_type
    )
    SELECT event_type,
           s_naive // 7 AS mae_naive_cents,
           s_snaive // 7 AS mae_snaive_cents,
           s_naive * m_train * 1000 // (7 * s_train) AS mase_naive_permille,
           s_snaive * m_train * 1000 // (7 * s_train)
               AS mase_snaive_permille,
           CASE WHEN s_snaive < s_naive THEN 'seasonal_naive'
                WHEN s_naive < s_snaive THEN 'naive'
                ELSE 'tie' END AS better_model
    FROM agg WHERE s_train > 0
    ORDER BY event_type
"""


@register(
    "forecast_mase_eval",
    oracle=_MASE_ORACLE,
    tags=("timeseries", "forecast", "stats"),
    doc="Forecast backtest with MASE (Hyndman-Koehler mean absolute "
    "scaled error — THE scale-free forecast accuracy metric): hold "
    "out the final 7 days of each event type's zero-filled daily "
    "revenue series, score the naive (yesterday) and seasonal-naive "
    "(same weekday last week) forecasters on the holdout, and scale "
    "both by the in-sample naive MAE — MASE < 1000 permille beats "
    "the in-sample naive baseline. Completes the forecasting family "
    "(EWMA / Holt / Croston) with the EVALUATION step that says "
    "which forecaster to trust. Exact integer cents throughout; the "
    "single cross-multiplied truncating division per (type, model) "
    "clears both MAE denominators at once. Plan: per-type zero-fill "
    "on the generated spine (bounds broadcast), two lag windows in "
    "one pass, one per-type rollup — linear, one row per type.",
)
def forecast_mase_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = F.broadcast(
        ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(bounds)
        .select(
            "event_type",
            "d1",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d"),
        )
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("cents").cast("long").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    series = (
        spine.join(daily, ["event_type", "d"], "left")
        .withColumn("y", F.coalesce("y", F.lit(0).cast("long")))
        .withColumn("y1", F.lag("y", 1).over(w))
        .withColumn("y7", F.lag("y", 7).over(w))
        .withColumn("holdout", F.col("d") > F.col("d1") - 7)
    )
    agg = series.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("holdout") & F.col("y1").isNotNull(),
                F.abs(F.col("y") - F.col("y1")),
            )
        )
        .cast("long")
        .alias("s_naive"),
        F.sum(
            F.when(
                F.col("holdout") & F.col("y7").isNotNull(),
                F.abs(F.col("y") - F.col("y7")),
            )
        )
        .cast("long")
        .alias("s_snaive"),
        F.sum(
            F.when(
                ~F.col("holdout") & F.col("y1").isNotNull(),
                F.abs(F.col("y") - F.col("y1")),
            )
        )
        .cast("long")
        .alias("s_train"),
        F.sum(
            F.when(~F.col("holdout") & F.col("y1").isNotNull(), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("m_train"),
    )
    return (
        agg.filter(F.col("s_train") > 0)
        .select(
            "event_type",
            F.expr("s_naive div 7").alias("mae_naive_cents"),
            F.expr("s_snaive div 7").alias("mae_snaive_cents"),
            F.expr("s_naive * m_train * 1000 div (7 * s_train)").alias(
                "mase_naive_permille"
            ),
            F.expr("s_snaive * m_train * 1000 div (7 * s_train)").alias(
                "mase_snaive_permille"
            ),
            F.when(F.col("s_snaive") < F.col("s_naive"), "seasonal_naive")
            .when(F.col("s_naive") < F.col("s_snaive"), "naive")
            .otherwise("tie")
            .alias("better_model"),
        )
        .orderBy("event_type")
    )

# --- binary-segmentation changepoint ---------------------------------------

_CHANGEPOINT_ORACLE = """
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1, 2
    ), pre AS (
        SELECT event_type, day, y,
               CAST(row_number() OVER w AS BIGINT) AS t,
               CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT)
                   AS s_tot
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), gains0 AS (
        SELECT event_type, day, t, n, s, s_tot,
               s * (n - t) - (s_tot - s) * t AS num
        FROM pre WHERE t < n
    ), gains AS (
        SELECT event_type, day, t, n, s, s_tot,
               (CASE WHEN num >= 0 THEN 1 ELSE -1 END) * (abs(num) >>
                   greatest(length(bin(max(abs(num)) OVER
                       (PARTITION BY event_type))) - 30, 0)) AS numq
        FROM gains0
    ), best AS (
        SELECT event_type, day, t, n, s, s_tot,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY (numq * numq) // (t * (n - t)) DESC, day ASC
               ) AS rnk
        FROM gains
    )
    SELECT event_type,
           CAST(day AS VARCHAR) AS split_day,
           t AS n_before,
           n - t AS n_after,
           s // t AS mean_before_cents,
           (s_tot - s) // (n - t) AS mean_after_cents,
           (s_tot - s) // (n - t) - s // t AS shift_cents
    FROM best WHERE rnk = 1
    ORDER BY event_type
"""


@register(
    "events_changepoint_binary_seg",
    oracle=_CHANGEPOINT_ORACLE,
    tags=("timeseries", "stats"),
    doc="Level-shift changepoint by binary segmentation (one split): "
    "per event type, the split day maximizing the between-segment "
    "squared-mean gap weighted by segment sizes — argmax over t of "
    "(S_t*(n-t) - (S-S_t)*t)^2 / (t*(n-t)), the CUSUM-family "
    "LOCATOR that names WHERE the shift happened (the registered "
    "CUSUM op only says THAT it happened). The argmax gain key is "
    "the house shift-quantized BIGINT: the numerator (headroom "
    "sum(cents)*days < 2^63, fine past 100 TB-scale daily grids) is "
    "right-shifted to 30 bits by a per-type window max before "
    "squaring, so the squared key never leaves BIGINT and both "
    "engines pick the argmax of the IDENTICAL quantized gain (day "
    "tiebreak; Spark decimal div wraps past 2^63, so the decimal "
    "route is not exact and is avoided), and only integer segment "
    "means reach the output. Plan: daily rollup, per-type prefix-sum "
    "windows "
    "(bounded by |days| per partition), a rank window per type — "
    "no self-joins, no day x day pair relation.",
)
def events_changepoint_binary_seg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    pre = (
        daily.withColumn("t", F.row_number().over(wo).cast("long"))
        .withColumn(
            "s",
            F.sum("y").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("n", F.count(F.lit(1)).over(wa).cast("long"))
        .withColumn("s_tot", F.sum("y").over(wa))
    )
    gains0 = pre.filter(F.col("t") < F.col("n")).withColumn(
        "num", F.expr("s * (n - t) - (s_tot - s) * t")
    )
    # Quantize |num| to <= 30 bits by a per-type arithmetic right shift
    # (window max, same relation) so numq^2 stays inside BIGINT at any
    # scale; the argmax is of the quantized gain, identically on both
    # engines (Spark decimal `div` silently wraps past 2^63, so the
    # decimal route is NOT exact — the shift route is).
    gains = gains0.withColumn(
        "numq",
        F.expr(
            "(CASE WHEN num >= 0 THEN 1 ELSE -1 END) * shiftright(abs(num),"
            " cast(greatest(length(bin(max(abs(num)) OVER"
            " (PARTITION BY event_type))) - 30, 0) as int))"
        ),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.expr("(numq * numq) div (t * (n - t))").desc(), F.col("day").asc()
    )
    return (
        gains.withColumn("rnk", F.row_number().over(wbest))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("split_day"),
            F.col("t").alias("n_before"),
            (F.col("n") - F.col("t")).alias("n_after"),
            F.expr("s div t").alias("mean_before_cents"),
            F.expr("(s_tot - s) div (n - t)").alias("mean_after_cents"),
            F.expr("(s_tot - s) div (n - t) - s div t").alias("shift_cents"),
        )
        .orderBy("event_type")
    )

# --- Mann-Kendall trend significance test ----------------------------------

# Completes events_theil_sen_trend: Theil-Sen answers "how steep", this
# answers "is there a monotone trend AT ALL, and is it significant" —
# the standard pairing in environmental/ops statistics. Exactness: S is
# an integer sum of pair signs; Var(S) is kept as 18*Var (the exact
# integer n(n-1)(2n+5) - sum_t t(t-1)(2t+5), tie-corrected); the
# z > 1.96 significance test is cleared of sqrt/division by cross-
# multiplying: (|S|-1)^2 * 180000 > 38416 * var18  (z^2 > 3.8416 with
# the continuity correction |S|-1). All BIGINT at the C(90,2) bound.

_MK_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(max(ts) AS DATE) AS d1 FROM events
    ), daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events, bounds
        WHERE CAST(ts AS DATE) > d1 - {_THEIL_SEN_WINDOW_DAYS}
        GROUP BY 1, 2
    ), s AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                             WHEN b.cents < a.cents THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY 1
    ), nd AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily
        GROUP BY 1
    ), ties AS (
        SELECT event_type,
               CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (
            SELECT event_type, cents, count(*) AS t
            FROM daily GROUP BY 1, 2
        ) g
        GROUP BY 1
    )
    SELECT nd.event_type, nd.n AS n_days, s.s_stat,
           nd.n * (nd.n - 1) * (2 * nd.n + 5) - ties.tie_term AS var18,
           CASE WHEN s.s_stat > 0 THEN 'increasing'
                WHEN s.s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS direction,
           (abs(s.s_stat) > 0 AND
            (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1) * 180000
                > 38416 * (nd.n * (nd.n - 1) * (2 * nd.n + 5)
                           - ties.tie_term)) AS significant
    FROM nd
    JOIN s ON s.event_type = nd.event_type
    JOIN ties ON ties.event_type = nd.event_type
    ORDER BY nd.event_type
"""


@register(
    "events_mann_kendall_test",
    oracle=_MK_ORACLE,
    tags=("timeseries", "analytics", "robust", "stats"),
    doc="Mann-Kendall monotone-trend significance test per event type "
    "over the trailing-90-day daily-revenue series — the hypothesis-"
    "test partner of events_theil_sen_trend (Sen estimates the slope, "
    "Kendall's S says whether a trend exists at alpha=0.05). S = sum "
    "of pairwise value signs computed IN-BASKET as one aggregate "
    "expression (no pair explode, no second shuffle — cheaper than "
    "Theil-Sen, which must rank the slopes); Var(S) carried as the "
    "exact tie-corrected integer 18*Var; significance decided by the "
    "cross-multiplied continuity-corrected inequality (|S|-1)^2 * "
    "180000 > 38416 * var18 — no sqrt, no division, no float. Pair "
    "space bounded C(90,2) per type by the window, corpus-size-"
    "independent; the oracle is the declarative pair self-join.",
)
def events_mann_kendall_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bound = events.agg(
        F.date_sub(F.max(F.to_date("ts")), _THEIL_SEN_WINDOW_DAYS).alias("d0")
    )
    daily = (
        events.crossJoin(F.broadcast(bound))
        .filter(F.to_date("ts") > F.col("d0"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    # S as ONE in-basket aggregate expression over the sorted series:
    # sum over i<j of sign(y_j - y_i); no pair rows ever materialize.
    s = (
        daily.groupBy("event_type")
        .agg(
            F.sort_array(F.collect_list(F.struct("day", "cents"))).alias(
                "ps"
            )
        )
        .select(
            "event_type",
            F.expr(
                "aggregate(flatten(transform(ps, (a, i) -> "
                "transform(slice(ps, i + 2, size(ps)), b -> "
                "CASE WHEN b.cents > a.cents THEN 1L "
                "WHEN b.cents < a.cents THEN -1L ELSE 0L END))), "
                "0L, (acc, x) -> acc + x)"
            ).alias("s_stat"),
            F.expr("size(ps)").cast("long").alias("n_days"),
        )
    )
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    out = s.join(ties, "event_type").select(
        "event_type",
        "n_days",
        "s_stat",
        F.expr(
            "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"
        ).alias("var18"),
        F.expr(
            "CASE WHEN s_stat > 0 THEN 'increasing' "
            "WHEN s_stat < 0 THEN 'decreasing' "
            "ELSE 'no_trend' END"
        ).alias("direction"),
        F.expr(
            "abs(s_stat) > 0 AND "
            "(abs(s_stat) - 1) * (abs(s_stat) - 1) * 180000 "
            "> 38416 * (n_days * (n_days - 1) * (2 * n_days + 5) "
            "- tie_term)"
        ).alias("significant"),
    )
    return out.orderBy("event_type")

# --- fixed-period periodogram (integer Goertzel) -------------------------------
#
# The FREQUENCY-domain companion to events_autocorrelation_lags and
# the Haar energy op: spectral power of each type's centered daily
# series at candidate periods {2, 3, 7, 14} days, computed as
# |sum_t y_t * e^{-2pi i t/P}|^2 with the trig values FROZEN as exact
# milli-scaled integer tables (cos/sin at the P distinct phases,
# round(cos(2pi k/P)*1000) — both engines read the same literal
# table, so there is no libm in either plan). Power is normalized by
# sum(y^2) to a permille concentration score; the argmax period per
# type is the seasonality verdict (a weekly cycle peaks at P=7). The
# centered series is the ACF's exact-integer y = n*x - sum(x).

_PG_PERIODS = (2, 3, 7, 14)


def _pg_trig_rows() -> list[tuple[int, int, int, int]]:
    import math

    rows = []
    for p in _PG_PERIODS:
        for k in range(p):
            rows.append(
                (
                    p,
                    k,
                    round(math.cos(2 * math.pi * k / p) * 1000),
                    round(-math.sin(2 * math.pi * k / p) * 1000),
                )
            )
    return rows


def _pg_oracle() -> str:
    vals = ", ".join(
        f"({p}, {k}, {c}, {s})" for (p, k, c, s) in _pg_trig_rows()
    )
    return f"""
        WITH bounds AS (
            SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE)
                AS d1
            FROM events
        ), spine AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS day, d0
            FROM bounds
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
            FROM events GROUP BY 1, 2
        ), series AS (
            SELECT t.event_type, s.day,
                   date_diff('day', s.d0, s.day) AS ti,
                   COALESCE(d.x, 0) AS x
            FROM types t CROSS JOIN spine s
            LEFT JOIN daily d
              ON d.event_type = t.event_type AND d.day = s.day
        ), cent AS (
            SELECT event_type, ti,
                   CAST(count(*) OVER (PARTITION BY event_type)
                        AS BIGINT) * x
                   - CAST(sum(x) OVER (PARTITION BY event_type)
                          AS BIGINT) AS y
            FROM series
        ), trig(p, k, c_milli, s_milli) AS (VALUES {vals}),
        terms AS (
            SELECT c.event_type, tg.p,
                   CAST(sum(c.y * tg.c_milli) AS BIGINT) AS re_milli,
                   CAST(sum(c.y * tg.s_milli) AS BIGINT) AS im_milli,
                   CAST(sum(c.y * c.y) AS BIGINT) AS den
            FROM cent c
            JOIN trig tg ON tg.k = c.ti % tg.p
            GROUP BY c.event_type, tg.p
        )
        SELECT event_type, p AS period_days,
               CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST((CAST(re_milli AS HUGEINT) * re_milli
                               + CAST(im_milli AS HUGEINT) * im_milli)
                              // (CAST(den AS HUGEINT) * 1000000 // 1000)
                         AS BIGINT)
               END AS power_permille
        FROM terms
        ORDER BY event_type, period_days
    """


@register(
    "events_periodogram_fixed",
    oracle=_pg_oracle(),
    tags=("timeseries", "stats", "analytics"),
    doc="Fixed-period periodogram of each type's centered daily "
    "series at candidate periods {2,3,7,14} days: spectral power "
    "|sum y_t e^{-2pi i t/P}|^2 with the trig values FROZEN as "
    "milli-scaled integer literal tables (round(cos*1000)) shipped "
    "identically to both engines — no libm call in either plan, so "
    "the permille concentration scores are bit-identical. The "
    "frequency-domain companion to the ACF (a weekly cycle shows as "
    "the P=7 peak; the ACF sees it as positive r_7): power is "
    "normalized by sum(y^2), exact-integer centering y = n*x - "
    "sum(x). Shape: the raw scan reduces to |types| x |days| rows; "
    "the trig join is a broadcast of a 26-row literal table keyed "
    "on day-index mod P — O(types*days*periods) post-agg work at "
    "any corpus size.",
)
def events_periodogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        ),
        "d0",
    )
    types = events.select("event_type").distinct()
    daily = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.expr("datediff(day, d0)").alias("ti"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    )
    wt = Window.partitionBy("event_type")
    cent = series.select(
        "event_type",
        "ti",
        (
            F.count(F.lit(1)).over(wt).cast("long") * F.col("x")
            - F.sum("x").over(wt).cast("long")
        ).alias("y"),
    )
    trig = F.broadcast(
        events.sparkSession.createDataFrame(
            _pg_trig_rows(), "p int, k int, c_milli long, s_milli long"
        )
    )
    terms = (
        cent.join(trig, F.col("k") == F.col("ti") % F.col("p"))
        .groupBy("event_type", "p")
        .agg(
            F.sum(F.col("y") * F.col("c_milli")).cast("long").alias(
                "re_milli"
            ),
            F.sum(F.col("y") * F.col("s_milli")).cast("long").alias(
                "im_milli"
            ),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("den"),
        )
    )
    return terms.select(
        "event_type",
        F.col("p").alias("period_days"),
        F.expr(
            "CASE WHEN den = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((CAST(re_milli AS DECIMAL(38,0)) * re_milli"
            "      + CAST(im_milli AS DECIMAL(38,0)) * im_milli)"
            "      div (CAST(den AS DECIMAL(38,0)) * 1000000 div 1000)"
            " AS BIGINT) END"
        ).alias("power_permille"),
    ).orderBy("event_type", "period_days")

# --- seasonal-residual anomaly days ------------------------------------------------
#
# The deseasonalized upgrade of events_anomaly_mad: raw daily counts
# flag every weekend as an anomaly when traffic has a weekly cycle,
# so the robust fence must run on the RESIDUAL x_t - weekday_mean
# instead. Per type: exact truncating weekday means on the
# zero-filled spine, residuals, then the median/MAD rule on the
# residual series with the house cross-multiplied 3.5-sigma-
# equivalent fence (|r - med| * 1000 > 3500 * 1.4826-free MAD form:
# 2*|r-med| > 7*MAD clears all constants exactly). Output: the
# flagged (type, day) anomalies with their residual and fence
# values — what a traffic-monitoring page actually shows.


def _resid_anom_oracle() -> str:
    return """
        WITH bounds AS (
            SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE)
                AS d1
            FROM events
        ), spine AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS day
            FROM bounds
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), series AS (
            SELECT t.event_type, s.day,
                   CAST((s.day - DATE '1970-01-05') % 7
                        AS BIGINT) AS dow,
                   COALESCE(d.x, 0) AS x
            FROM types t CROSS JOIN spine s
            LEFT JOIN daily d
              ON d.event_type = t.event_type AND d.day = s.day
        ), dowm AS (
            SELECT event_type, dow,
                   CAST(sum(x) // count(*) AS BIGINT) AS dmean
            FROM series GROUP BY event_type, dow
        ), resid AS (
            SELECT s.event_type, s.day, s.x,
                   s.x - m.dmean AS r
            FROM series s
            JOIN dowm m ON m.event_type = s.event_type
                       AND m.dow = s.dow
        ), resid_m AS MATERIALIZED (
            SELECT * FROM resid
        ), rr AS MATERIALIZED (
            SELECT event_type, r,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY r, day) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM resid_m
        ), med AS MATERIALIZED (
            SELECT event_type, CAST(max(r) AS BIGINT) AS med_r
            FROM rr WHERE rn = (n + 1) // 2
            GROUP BY event_type
        ), dd2 AS MATERIALIZED (
            SELECT r.event_type, abs(r.r - m.med_r) AS a, r.day
            FROM resid_m r JOIN med m ON m.event_type = r.event_type
        ), ra AS MATERIALIZED (
            SELECT event_type, a,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY a, day) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM dd2
        ), mad AS MATERIALIZED (
            SELECT r2.event_type, m.med_r,
                   CAST(max(r2.a) AS BIGINT) AS mad_r
            FROM ra r2 JOIN med m ON m.event_type = r2.event_type
            WHERE r2.rn = (r2.n + 1) // 2
            GROUP BY r2.event_type, m.med_r
        )
        SELECT r.event_type,
               strftime(CAST(r.day AS DATE), '%Y-%m-%d') AS day, r.x,
               r.r AS residual, a.med_r, a.mad_r
        FROM resid_m r
        JOIN mad a ON a.event_type = r.event_type
        WHERE 2 * abs(r.r - a.med_r) > 7 * a.mad_r AND a.mad_r > 0
        ORDER BY r.event_type, r.day
    """


@register(
    "events_seasonal_residual_anomaly",
    oracle=_resid_anom_oracle(),
    tags=("timeseries", "stats", "quality"),
    doc="Deseasonalized anomaly days: residual = daily count minus the "
    "exact truncating weekday mean (zero-filled spine), flagged by "
    "the robust median/MAD fence on the RESIDUAL series with every "
    "constant cross-multiplied (2*|r-med| > 7*MAD). The upgrade over "
    "events_anomaly_mad for cyclical traffic — a weekly pattern makes "
    "raw-count fences flag every weekend; deseasonalizing first "
    "leaves only genuine shocks (the planted-spike behavior test "
    "proves a mid-week burst is flagged while ordinary weekend dips "
    "are not). Medians are exact order statistics over the "
    "|types| x |days| post-agg relation as LOWER-MEDIAN rank reads "
    "(rn = (n+1)/2) — interpolated medians CAST differently across "
    "engines (DuckDB rounds 1.5->2, Spark truncates to 1), so the "
    "discrete order statistic is the engine-invariant choice. One "
    "rollup + two per-type windows on the post-agg relation.",
)
def events_seasonal_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        )
    )
    types = events.select("event_type").distinct()
    daily = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.expr(
                "CAST(pmod(datediff(day, DATE'1970-01-05'), 7)"
                " AS BIGINT)"
            ).alias("dow"),
            F.coalesce("x", F.lit(0).cast("long")).alias("x"),
        )
    )
    dowm = series.groupBy("event_type", "dow").agg(
        F.expr("CAST(sum(x) div count(1) AS BIGINT)").alias("dmean")
    )
    resid = series.join(dowm, ["event_type", "dow"]).select(
        "event_type",
        "day",
        "x",
        (F.col("x") - F.col("dmean")).alias("r"),
    )
    wr = Window.partitionBy("event_type").orderBy("r", "day")
    wt = Window.partitionBy("event_type")
    rr = resid.select(
        "event_type",
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = (
        rr.filter("rn = (n + 1) div 2")
        .groupBy("event_type")
        .agg(F.max("r").cast("long").alias("med_r"))
    )
    dd2 = resid.join(med, "event_type").select(
        "event_type", "med_r", "day", F.abs(F.col("r") - F.col("med_r")).alias("a")
    )
    wa = Window.partitionBy("event_type").orderBy("a", "day")
    ra = dd2.select(
        "event_type",
        "med_r",
        "a",
        F.row_number().over(wa).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    mad = (
        ra.filter("rn = (n + 1) div 2")
        .groupBy("event_type", "med_r")
        .agg(F.max("a").cast("long").alias("mad_r"))
    )
    return (
        resid.join(mad, "event_type")
        .filter("2 * abs(r - med_r) > 7 * mad_r AND mad_r > 0")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            F.col("r").alias("residual"),
            "med_r",
            "mad_r",
        )
        .orderBy("event_type", "day")
    )

# --- SLO burn-rate alerting (multi-window) ------------------------------------------
#
# The SRE alerting rule (Google SRE workbook) as a batch operator:
# with SLO = 99% non-error events, the burn rate of a window is
# (error rate) / (1 - SLO) — burn 1.0 consumes the whole error budget
# exactly over the budget period. The standard MULTI-WINDOW rule
# fires only when BOTH a long and a short window burn fast (long = 6h
# at burn >= 6, short = 1h at burn >= 6), which suppresses both
# stale alerts (long-only) and flapping (short-only). Exact permille
# arithmetic: burn_permille = 1000 * err * 100 / (total * 1), with
# the 1-SLO = 1/100 folded in as integer cross-multiplication.

_SLO_PERMILLE = 990  # 99.0% success target


def _slo_oracle() -> str:
    bad = 1000 - _SLO_PERMILLE
    return f"""
        WITH marks AS (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h,
                   CAST(count(*) AS BIGINT) AS total,
                   CAST(count(*) FILTER (event_type = 'error')
                        AS BIGINT) AS errs
            FROM events GROUP BY 1
        ), contrib AS (
            SELECT m.h + to_hours(o.k) AS h_t,
                   m.total AS c_total, m.errs AS c_errs
            FROM marks m
            CROSS JOIN (SELECT unnest(range(0, 6)) AS k) o
        ), hours AS (
            SELECT m.h, m.total, m.errs,
                   CAST(sum(c.c_total) AS BIGINT) AS total6,
                   CAST(sum(c.c_errs) AS BIGINT) AS errs6
            FROM marks m JOIN contrib c ON c.h_t = m.h
            GROUP BY m.h, m.total, m.errs
        )
        SELECT strftime(h, '%Y-%m-%d %H:00') AS hour,
               total, errs, total6, errs6,
               CAST(1000000 * errs // (total * {bad}) AS BIGINT)
                   AS burn1h_milli,
               CAST(1000000 * errs6 // (total6 * {bad}) AS BIGINT)
                   AS burn6h_milli,
               1000000 * errs > 6 * total * {bad} * 1000
               AND 1000000 * errs6 > 6 * total6 * {bad} * 1000
                   AS page_alert
        FROM hours
        ORDER BY hour
    """


@register(
    "events_slo_burn_rate",
    oracle=_slo_oracle(),
    tags=("analytics", "quality", "timeseries"),
    doc="Multi-window SLO burn-rate alerting (the Google SRE workbook "
    "rule) as a batch operator: with a 99.0% success SLO, burn rate "
    "= error_rate / (1-SLO) in exact milli units (the 1-SLO folded "
    "in by integer cross-multiplication — no division by a "
    "fraction), and a page fires only when BOTH the 1h and the "
    "trailing-6h windows burn above 6x — long-only suppresses stale "
    "alerts, short-only suppresses flapping; trailing sums ride an "
    "offset EQUI-join over TIME (a data gap never stretches the "
    "window, unlike a ROWS frame). The ops-monitoring "
    "counterpart of the statistical anomaly fences (MAD, CUSUM, "
    "changepoint): those find surprises, this enforces a BUDGET. "
    "One hourly rollup + one 6-row sliding window over the "
    "post-agg relation — O(hours) state at any corpus size.",
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    bad = 1000 - _SLO_PERMILLE
    ev = load_table(spark, sf_dir, "events")
    marks = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.expr(
            "CAST(count_if(event_type = 'error') AS BIGINT)"
        ).alias("errs"),
    )
    # trailing-6h sums as an offset EQUI-join (one explode of 0..5
    # hour offsets, shuffle on the hour key) — no global window, the
    # sorted-neighborhood pattern; missing trailing hours contribute
    # nothing, matching the ROWS 5 PRECEDING frame on a gapless
    # hourly spine
    contrib = marks.select(
        "h",
        "total",
        "errs",
        F.explode(F.expr("sequence(0, 5)")).alias("k"),
    ).select(
        F.expr("h + make_interval(0, 0, 0, 0, k)").alias("h_t"),
        F.col("total").alias("c_total"),
        F.col("errs").alias("c_errs"),
    )
    hours = marks.join(
        contrib, marks["h"] == contrib["h_t"]
    ).groupBy("h", "total", "errs").agg(
        F.sum("c_total").cast("long").alias("total6"),
        F.sum("c_errs").cast("long").alias("errs6"),
    )
    return hours.select(
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        "total",
        "errs",
        "total6",
        "errs6",
        F.expr(
            f"CAST(1000000 * errs div (total * {bad}) AS BIGINT)"
        ).alias("burn1h_milli"),
        F.expr(
            f"CAST(1000000 * errs6 div (total6 * {bad}) AS BIGINT)"
        ).alias("burn6h_milli"),
        F.expr(
            f"1000000 * errs > 6 * total * {bad} * 1000"
            f" AND 1000000 * errs6 > 6 * total6 * {bad} * 1000"
        ).alias("page_alert"),
    ).orderBy("hour")
