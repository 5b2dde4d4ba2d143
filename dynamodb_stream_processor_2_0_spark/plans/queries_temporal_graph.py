"""Temporal-modeling and graph-traversal queries: calendar gap-fill,
recursive-CTE chain walks, SCD2 interval builds, referential-integrity
audits, and event-transition matrices.

These extend the reference's surface (SURVEY.md §2.7 verified these
absent) with the warehouse/timeseries patterns a production analytics
engine needs. The reference's only temporal notion is a per-record
``timestamp`` stamped at processing time (index.js:204, 560); here
event-time is a first-class modeling axis: dense calendar spines,
validity intervals derived from CDC-ordered updates (the batch analog
of the reference's mark-processed state transitions, index.js:479-520),
and order-chain traversal via Spark 4's recursive CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources import formats
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


@register(
    "timeseries_gapfill_daily",
    oracle="""
        WITH bounds AS (
            SELECT min(CAST(o_orderdate AS DATE)) AS d0,
                   max(CAST(o_orderdate AS DATE)) AS d1
            FROM orders
        ), spine AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day
            FROM bounds
        ), daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
            FROM orders
            GROUP BY 1
        )
        SELECT CAST(s.day AS VARCHAR) AS day,
               COALESCE(d.n_orders, 0) AS n_orders,
               COALESCE(d.revenue_cents, 0) AS revenue_cents
        FROM spine s LEFT JOIN daily d USING (day)
        ORDER BY day
    """,
    tags=("timeseries", "gapfill", "A1"),
    doc="Dense daily calendar spine (sequence + explode) left-joined to "
    "the per-day order rollup, zero-filling silent days — the gap-fill "
    "primitive every downstream timeseries chart/forecast needs. The "
    "spine is generated, not scanned: at 100 TB the fact rollup "
    "shuffles |days| rows, and the spine join broadcasts (a few KB of "
    "dates).",
)
def timeseries_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spine derives from a 1-row bounds aggregate, so the join is
    trivially broadcastable; revenue as exact BIGINT cents keeps the
    zero-fill COALESCE type-stable and order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            # DATE survives Spark->pandas as datetime.date but DuckDB->
            # pandas widens to datetime64; ISO string is stable on both.
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue_cents", F.lit(0).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("day")
    )


_RECURSIVE_WALK_STEP = """
    WITH RECURSIVE {extra_ctes} walk(o_custkey, rn, depth, running_cents) AS (
        SELECT {anchor_hint} o_custkey, rn, 1 AS depth, cents AS running_cents
        FROM {ranked} WHERE rn = 1
        UNION ALL
        SELECT {step_hint} o.o_custkey, o.rn, w.depth + 1,
               w.running_cents + o.cents
        FROM walk w
        JOIN {ranked} o
          ON o.o_custkey = w.o_custkey AND o.rn = w.rn + 1
        WHERE w.depth < 8
    )
    SELECT depth,
           count(*) AS n_customers,
           CAST(sum(running_cents) AS BIGINT) AS total_running_cents
    FROM walk
    GROUP BY depth
    ORDER BY depth
"""

# Above this many orders the ranked side stops being broadcast-safe
# (~2M rows x ~24B = tens of MB serialized) and the bucketed-join path
# takes over. Tests force it to 0 to exercise the large path.
_CHAIN_WALK_BROADCAST_ROW_CAP = 2_000_000

_RANKED_SQL = """
    SELECT o_custkey,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS rn,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
"""


@register(
    "recursive_order_chain_walk",
    oracle=_RECURSIVE_WALK_STEP.format(
        extra_ctes=f"ranked AS ({_RANKED_SQL}),",
        ranked="ranked",
        anchor_hint="",
        step_hint="",
    ),
    tags=("relational", "recursive-cte", "sql-api"),
    doc="Iterative traversal via Spark 4 recursive CTE: each customer's "
    "orders form a date-ordered linked list; the walk starts at rn=1 "
    "and steps rn -> rn+1 to depth 8, accumulating a running total. "
    "Each recursion level is one co-partitioned equi-join on "
    "(custkey, rn) — at scale the per-level frontier shrinks "
    "monotonically (customers with fewer orders drop out), so the "
    "fixpoint is bounded work, unlike a window-function rewrite that "
    "always scans everything once per frame.",
)
def recursive_order_chain_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's fixpoint operator re-evaluates every relation the step
    references once per level — an inline window subquery would pay 8
    full sorts of orders. The ranked chain is therefore computed ONCE,
    pruned to rn <= depth cap (the walk can never reach deeper), and
    materialized; each recursion level is then a cheap columnar scan +
    equi-join. DuckDB's recursive executor memoizes plain CTEs, so the
    oracle keeps the single-CTE form.

    The physical layout is size-gated (same pattern as
    connected_components' union-find arm, operators/dedup.py):

    - small (<= _CHAIN_WALK_BROADCAST_ROW_CAP orders): a
      single parquet file + BROADCAST hint makes every recursion level
      a map-only join — no per-level shuffle at all.
    - large: a table bucketed on o_custkey; each level then shuffles
      only the shrinking walk frontier to the fixed bucket layout while
      the ranked side is read shuffle-free. coalesce(1) and the
      broadcast hint are never emitted on this path — either would be
      the 100 TB bottleneck (single write task / OOM broadcast).

    The ranked side is staged once per process per (sf_dir, layout);
    the bucketed table is named by an sf digest and written again when
    the session catalog lacks it.
    """
    import hashlib

    orders = load_table(spark, sf_dir, "orders")
    # |ranked| <= |orders| (rn <= 8 prunes further); the column-less
    # count is far cheaper than executing the window twice and is the
    # same measured-size gate connected_components uses.
    n_orders = orders.count()
    # Every ranked row is visited exactly once across all fixpoint
    # levels, so total recursion output <= |ranked| <= n_orders. Spark's
    # runaway-recursion guard (spark.sql.cteRecursionRowLimit, default
    # 1M) would kill the walk on any corpus past ~1M orders — measured:
    # the 10x scale experiment died on exactly this. Raise it to the
    # measured bound (sticky: execution-phase planning re-reads the
    # conf lazily, so a set-and-restore would revert before the driver
    # runs the plan; a raised guard has no effect on other queries). An
    # outer LIMIT over the recursive CTE also lifts the guard, but it
    # plans GlobalLimit over Exchange SinglePartition: the single-task
    # bottleneck this walk exists to avoid.
    guard = int(spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000"))
    if guard < 2 * n_orders + 1000:
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(2 * n_orders + 1000))

    small = n_orders <= _CHAIN_WALK_BROADCAST_ROW_CAP
    # Large path: bucket on o_custkey so every fixpoint level reuses the
    # written layout (walk frontier shuffles to it; ranked never does).
    n_buckets = max(1, min(2048, n_orders // 500_000 + 1))
    tbl = f"order_chain_ranked_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"

    def write(path: str) -> None:
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ranked = orders.select(
            "o_custkey",
            F.row_number().over(w).alias("rn"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ).filter(F.col("rn") <= 8)
        if small:
            ranked.coalesce(1).write.mode("overwrite").parquet(path)
            return
        (
            ranked.write.mode("overwrite")
            .option("path", path)
            .bucketBy(n_buckets, "o_custkey")
            .sortBy("o_custkey", "rn")
            .saveAsTable(tbl)
        )

    path = formats.staged("order_chain_ranked_", (sf_dir, small), write)
    if small:
        return spark.sql(
            _RECURSIVE_WALK_STEP.format(
                extra_ctes="",
                ranked=f"parquet.`{path}`",
                anchor_hint="/*+ REPARTITION(1) */",
                step_hint="/*+ BROADCAST(o) */",
            )
        )
    if not spark.catalog.tableExists(tbl):
        write(path)
    return spark.sql(
        _RECURSIVE_WALK_STEP.format(
            extra_ctes="", ranked=tbl, anchor_hint="", step_hint=""
        )
    )


@register(
    "scd2_user_state_build",
    oracle="""
        SELECT user_id,
               ts AS eff_from,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS eff_to,
               event_type AS state,
               (lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) IS NULL) AS is_current
        FROM events
        ORDER BY user_id, eff_from, state
    """,
    tags=("timeseries", "scd2", "D2", "S5"),
    doc="Slowly-changing-dimension type 2 build: each event is an "
    "attribute update; lead() over (user, ts) closes the prior "
    "validity interval, the open interval is flagged current — the "
    "batch rebuild of the reference's mark-processed state row "
    "(updateEmailJobStatus, index.js:479-520) with full history "
    "retained. One shuffle on user_id; the window is a single sort "
    "per partition.",
)
def scd2_user_state_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    eff_to = F.lead("ts").over(w)
    return (
        events.select(
            "user_id",
            F.col("ts").alias("eff_from"),
            eff_to.alias("eff_to"),
            F.col("event_type").alias("state"),
            eff_to.isNull().alias("is_current"),
        )
        .orderBy("user_id", "eff_from", "state")
    )


@register(
    "fk_integrity_audit",
    oracle="""
        SELECT 'customer->nation' AS fk, (
            SELECT count(*) FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        ) AS n_orphans, (SELECT count(*) FROM customer) AS n_rows
        UNION ALL
        SELECT 'lineitem->orders', (
            SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        ), (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'orders->customer', (
            SELECT count(*) FROM orders o
            WHERE NOT EXISTS (
                SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        ), (SELECT count(*) FROM orders)
        ORDER BY fk
    """,
    tags=("data-ops", "integrity", "join", "E2"),
    doc="Referential-integrity audit: anti-join orphan counts for every "
    "declared FK edge, one row per edge with the parent-missing count "
    "and table cardinality. The dedup/constraint analog of the "
    "reference's required-field validation (index.js:168-187) lifted "
    "from row scope to table scope. Each anti join broadcasts the key "
    "side when small or shuffles on the key otherwise — Catalyst picks "
    "per-edge.",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(name: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str):
        orphans = child.join(
            parent.select(F.col(pkey).alias(ckey)).distinct(), ckey, "left_anti"
        )
        return orphans.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_orphans"),
        ).crossJoin(child.agg(F.count(F.lit(1)).alias("n_rows")))

    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    audits = [
        edge("customer->nation", customer, "c_nationkey", nation, "n_nationkey"),
        edge("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
        edge("orders->customer", orders, "o_custkey", customer, "c_custkey"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionAll(a)
    return out.orderBy("fk")


@register(
    "events_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        )
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n_transitions
        FROM seq
        WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
        ORDER BY from_type, to_type
    """,
    tags=("timeseries", "funnel", "A1"),
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lead() pairs each event with its successor, then a "
    "global (from, to) rollup. The generalization of the events_funnel "
    "step analysis — one shuffle on user_id for the window, one "
    "map-side-combined shuffle on the (from, to) pair for the count.",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("from_type", "to_type")
    )


@register(
    "timeseries_similarity_topk",
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS v
            FROM events GROUP BY user_id, day
        ), q AS (
            SELECT user_id AS query_id, day, v AS qv FROM daily
            WHERE user_id < 8
        ), m AS (
            SELECT q.query_id, d.user_id,
                   count(*) AS n,
                   sum(q.qv * d.v) AS sxy,
                   sum(q.qv) AS sx, sum(d.v) AS sy,
                   sum(q.qv * q.qv) AS sxx, sum(d.v * d.v) AS syy
            FROM q JOIN daily d USING (day)
            WHERE d.user_id <> q.query_id
            GROUP BY q.query_id, d.user_id
            HAVING count(*) >= 3
               AND count(*) * sum(q.qv * q.qv) > sum(q.qv) * sum(q.qv)
               AND count(*) * sum(d.v * d.v) > sum(d.v) * sum(d.v)
        ), scored AS (
            SELECT query_id, user_id, CAST(n AS BIGINT) AS n_days,
                   (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                       AS corr,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY (CAST(n AS DOUBLE) * sxy
                                 - CAST(sx AS DOUBLE) * sy)
                                / (sqrt(CAST(n AS DOUBLE) * sxx
                                        - CAST(sx AS DOUBLE) * sx)
                                   * sqrt(CAST(n AS DOUBLE) * syy
                                          - CAST(sy AS DOUBLE) * sy)) DESC,
                                user_id
                   ) AS rank
            FROM m
        )
        SELECT query_id, user_id, n_days, corr, rank
        FROM scored WHERE rank <= 3
        ORDER BY query_id, rank
    """,
    tags=("timeseries", "similarity", "topk"),
    doc="Time-series similarity search (the distributed-streaming "
    "pattern from EDBT'19 'Time Series Similarity Search for Streaming "
    "Data'): each user's daily activity rollup is a sparse series; for "
    "a set of query users, Pearson correlation against every other "
    "user over their SHARED days, top-3 matches per query. All moments "
    "(n, sxy, sx, sy, sxx, syy) are exact BIGINT sums over integer "
    "cents — zero float accumulation anywhere, so the correlation (one "
    "double expression over exact integers, exactly-rounded ops only) "
    "and therefore the ranking are bit-identical across engines. "
    "Degenerate (zero-variance) series are excluded by an integer "
    "comparison, not an epsilon. Shuffles: the daily rollup, the "
    "day-join against the broadcast query series, the pair-moment "
    "aggregation, and the per-query top-k window — each "
    "map-side-combinable or broadcast; nothing pairwise-quadratic "
    "materializes beyond (queries x users-sharing-a-day).",
)
def timeseries_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    q = daily.filter(F.col("user_id") < 8).select(
        F.col("user_id").alias("query_id"), "day", F.col("v").alias("qv")
    )
    joined = daily.join(F.broadcast(q), "day").filter(
        F.col("user_id") != F.col("query_id")
    )
    n = F.count(F.lit(1))
    m = (
        joined.groupBy("query_id", "user_id")
        .agg(
            n.alias("n"),
            F.sum(F.col("qv") * F.col("v")).alias("sxy"),
            F.sum("qv").alias("sx"),
            F.sum("v").alias("sy"),
            F.sum(F.col("qv") * F.col("qv")).alias("sxx"),
            F.sum(F.col("v") * F.col("v")).alias("syy"),
        )
        .filter(
            (F.col("n") >= 3)
            & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
    )
    nd = F.col("n").cast("double")
    corr = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        F.sqrt(nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("corr").desc(), F.col("user_id")
    )
    return (
        m.withColumn("corr", corr)
        .withColumn("n_days", F.col("n").cast("long"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "user_id", "n_days", "corr", "rank")
        .orderBy("query_id", "rank")
    )


# exact BIGINT rank-mass grid shared by both PageRank engines and oracles
_RANK_SCALE = 10**12


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Unrolled-iteration PageRank oracle (exact BIGINT arithmetic,
    truncating integer division on both engines)."""
    ctes = [
        f"""edges AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), nodes AS (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ), outdeg AS (
            SELECT n.node, count(e.src) AS od
            FROM nodes n LEFT JOIN edges e ON e.src = n.node
            GROUP BY n.node
        ), nn AS (SELECT count(*) AS n FROM nodes
        ), r0 AS (
            SELECT node, CAST({_RANK_SCALE} AS BIGINT) // (SELECT n FROM nn) AS rank
            FROM nodes
        )"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(f"""d{i} AS (
            SELECT COALESCE(sum(r.rank), 0) AS dang
            FROM r{p} r JOIN outdeg o ON o.node = r.node AND o.od = 0
        ), c{i} AS (
            SELECT e.dst AS node, sum(r.rank // o.od) AS contrib
            FROM edges e
            JOIN r{p} r ON r.node = e.src
            JOIN outdeg o ON o.node = e.src
            GROUP BY e.dst
        ), r{i} AS (
            SELECT n.node,
                   ((CAST({_RANK_SCALE} AS BIGINT) * 3) // 20) // (SELECT n FROM nn)
                   + (17 * (COALESCE(c.contrib, 0)
                            + (SELECT dang FROM d{i}) // (SELECT n FROM nn)))
                     // 20 AS rank
            FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
        )""")
    return f"""
        WITH {', '.join(ctes)}
        SELECT CASE WHEN r.node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               r.node // 2 AS node_key,
               CAST(r.rank AS BIGINT) AS rank_micro,
               o.od AS out_degree
        FROM r{iters} r JOIN outdeg o ON o.node = r.node
    """


@register(
    "graph_pagerank_fixpoint",
    oracle=_pagerank_oracle_sql(iters=3),
    tags=("graph", "iterative", "llm", "scale"),
    doc="PageRank over the customer->supplier purchase graph (3 damped "
    "iterations, d=0.85, dangling mass redistributed uniformly) — the "
    "iterative-fixpoint operator crawl pipelines use to rank domains "
    "for training-data prioritization. All arithmetic is exact BIGINT "
    "on a 1e12 mass grid with truncating integer division (Spark `div` "
    "== DuckDB `//`), so every iteration is bit-identical cross-engine "
    "— no float convergence ambiguity at the gate.",
)
def graph_pagerank_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per iteration: ONE edges||rank join + one groupBy(dst) (both
    shuffle on node ids — co-partitionable at scale by pre-bucketing
    edges on src), plus a 1-row dangling aggregate kept IN-PLAN as a
    broadcast cross join — no driver
    round-trip per iteration. The static out-degree travels inside the
    rank relation, so neither the dangling mass nor the contribution
    divisor needs its own join. localCheckpoint per round keeps the
    lineage flat so iteration i never recomputes iterations 1..i-1."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = (
        nodes.join(edges, nodes["node"] == edges["src"], "left")
        .groupBy("node")
        .agg(F.count("src").alias("od"))
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty graph: the fixpoint is the empty ranking, not a driver
        # ZeroDivisionError on _RANK_SCALE // n_nodes (tools/hostile_sweep.py)
        return outdeg.select(
            F.lit("customer").alias("node_type"),
            F.col("node").alias("node_key"),
            F.col("od").alias("rank_micro"),
            F.col("od").alias("out_degree"),
        ).filter(F.lit(False))
    # Fold the static out-degree INTO the rank relation: r carries
    # (node, od, rank), so each iteration needs exactly ONE edges||r
    # join + one groupBy(dst) — the r||outdeg join (dangling mass) and
    # the edges||outdeg join (contribution divisor) both disappear
    # (2 joins/iteration hoisted; measured 3.75 s -> 2.8 s at sf0.1).
    r = outdeg.withColumn("rank", F.lit(_RANK_SCALE // n_nodes))
    teleport = ((_RANK_SCALE * 3) // 20) // n_nodes
    for it in range(3):
        # Checkpoint the loop INPUT (not the output): lineage stays
        # flat, but the final iteration remains in the returned plan so
        # its broadcast/agg shape is assertable (and one checkpoint
        # materialization is saved).
        if it:
            r = r.localCheckpoint(eager=False)
        # dangling mass stays IN-PLAN: a 1-row aggregate broadcast into
        # the rank update (no driver round-trip per iteration).
        dang = F.broadcast(
            r.filter(F.col("od") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0).cast("long")).alias("d")
            )
        )
        contrib = (
            edges.join(r.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        r = (
            outdeg.join(contrib, outdeg["node"] == contrib["dst"], "left")
            .crossJoin(dang)
            .select(
                "node",
                "od",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"17 * (coalesce(contrib, 0L) + d div {n_nodes}L) div 20"
                    )
                ).alias("rank"),
            )
        )
    return r.select(
        F.when(F.col("node") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        F.col("rank").alias("rank_micro"),
        F.col("od").alias("out_degree"),
    )


@register(
    "snapshot_diff_audit",
    oracle="""
        WITH cutoff AS (
            SELECT max(ts) - INTERVAL 2 DAY AS c FROM events
        ), latest AS (
            SELECT user_id, event_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ), ver_a AS (
            SELECT user_id, event_id, event_type, cents FROM (
                SELECT user_id, event_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE ts <= (SELECT c FROM cutoff)
            ) WHERE rn = 1
        ), ver_b AS (
            SELECT user_id, event_id, event_type, cents
            FROM latest WHERE rn = 1
        )
        SELECT COALESCE(a.user_id, b.user_id) AS user_id,
               CASE WHEN a.user_id IS NULL THEN 'added'
                    WHEN b.user_id IS NULL THEN 'removed'
                    WHEN a.event_id = b.event_id THEN 'unchanged'
                    ELSE 'changed' END AS status,
               a.event_id AS a_event_id,
               b.event_id AS b_event_id,
               b.cents - COALESCE(a.cents, 0) AS cents_delta
        FROM ver_a a FULL OUTER JOIN ver_b b ON a.user_id = b.user_id
    """,
    tags=("timeseries", "data-ops", "cdc", "D2", "S5"),
    doc="Snapshot diff audit (the Delta time-travel DESCRIBE DIFF "
    "primitive): latest-wins per-user state at version A (events up to "
    "max(ts)-2d) full-outer-joined against version B (all events); "
    "every entity is classified added/changed/unchanged with the "
    "value delta — how a pipeline audits what an incremental load "
    "actually changed.",
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two latest-wins windows (one shuffle each on user_id) and one
    full outer join on the same key — co-partitioned, so the join adds
    no exchange beyond the windows'. The cutoff is a 1-row aggregate
    broadcast into the filter."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cut = events.agg(
        (F.max("ts") - F.expr("INTERVAL 2 DAYS")).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def latest(df):
        return (
            df.select(
                "user_id",
                "event_id",
                "event_type",
                cents.alias("cents"),
                F.row_number().over(w).alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    ver_a = latest(
        events.crossJoin(F.broadcast(cut)).filter(F.col("ts") <= F.col("c"))
    )
    ver_b = latest(events)
    a = ver_a.select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_event_id"),
        F.col("cents").alias("a_cents"),
    )
    b = ver_b.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_event_id"),
        F.col("cents").alias("b_cents"),
    )
    return a.join(b, a["a_user"] == b["b_user"], "full_outer").select(
        F.coalesce("a_user", "b_user").alias("user_id"),
        F.when(F.col("a_user").isNull(), "added")
        .when(F.col("b_user").isNull(), "removed")
        .when(F.col("a_event_id") == F.col("b_event_id"), "unchanged")
        .otherwise("changed")
        .alias("status"),
        "a_event_id",
        "b_event_id",
        (F.col("b_cents") - F.coalesce("a_cents", F.lit(0))).alias(
            "cents_delta"
        ),
    )


@register(
    "trending_decay_topk",
    oracle="""
        WITH anchor AS (
            SELECT date_trunc('day', max(ts)) AS d0 FROM events
        ), scored AS (
            SELECT user_id,
                   CAST(sum(
                       CAST(round(value * 100) AS BIGINT)
                       >> least(CAST(datediff('day', date_trunc('day', ts),
                                              (SELECT d0 FROM anchor))
                                     AS BIGINT), 40)
                   ) AS BIGINT) AS trend_cents,
                   count(*) AS n_events
            FROM events
            GROUP BY user_id
        )
        SELECT user_id, trend_cents, n_events FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY trend_cents DESC, user_id) AS rnk
            FROM scored
        ) WHERE rnk <= 20
    """,
    tags=("timeseries", "trending", "A1"),
    doc="Trending score with exponential time decay, EXACT: each "
    "event's cents contribute cents >> days_old (halving per day via "
    "arithmetic bit shift — no pow()/exp() transcendental, so the "
    "score is a deterministic BIGINT in any engine); top-20 users by "
    "decayed score. The decay-by-shift trick is what makes "
    "trending/leaderboard semantics oracle-checkable bit-for-bit.",
)
def trending_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One map-side-combined groupBy(user_id); the global top-20
    compiles to TakeOrderedAndProject (no full sort). The day anchor
    is a 1-row aggregate broadcast into the scorer."""
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.date_trunc("day", F.max("ts")).alias("d0"))
    # shiftright() the builtin takes only a literal bit count; the SQL
    # >> operator accepts a column.
    contrib = F.expr(
        "shiftright(CAST(round(value * 100) AS BIGINT), "
        "CAST(least(datediff(d0, date_trunc('day', ts)), 40) AS INT))"
    )
    scored = (
        events.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.sum(contrib).alias("trend_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        scored.orderBy(F.desc("trend_cents"), "user_id")
        .limit(20)
        .select("user_id", "trend_cents", "n_events")
    )


@register(
    "events_sessionized_funnel",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                             > INTERVAL 12 HOUR
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts, event_type,
                   sum(new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        ), v AS (
            SELECT user_id, sid, min(ts) AS t_view
            FROM numbered WHERE event_type = 'view'
            GROUP BY user_id, sid
        ), c AS (
            SELECT n.user_id, n.sid, min(n.ts) AS t_click
            FROM numbered n JOIN v
              ON v.user_id = n.user_id AND v.sid = n.sid
            WHERE n.event_type = 'click' AND n.ts > v.t_view
            GROUP BY n.user_id, n.sid
        ), p AS (
            SELECT n.user_id, n.sid, min(n.ts) AS t_purchase
            FROM numbered n JOIN c
              ON c.user_id = n.user_id AND c.sid = n.sid
            WHERE n.event_type = 'purchase' AND n.ts > c.t_click
            GROUP BY n.user_id, n.sid
        ), sessions AS (
            SELECT DISTINCT user_id, sid FROM numbered
        )
        SELECT count(*) AS n_sessions,
               (SELECT count(*) FROM v) AS n_reached_view,
               (SELECT count(*) FROM c) AS n_view_then_click,
               (SELECT count(*) FROM p) AS n_full_funnel,
               CAST((SELECT count(*) FROM p) AS DOUBLE)
                   / greatest((SELECT count(*) FROM v), 1) AS view_to_purchase
        FROM sessions
    """,
    tags=("timeseries", "funnel", "session", "A1"),
    doc="Sessionized ordered funnel: 12h-gap sessions, then the strict "
    "view -> click -> purchase progression WITHIN a session (each step "
    "must occur after the previous step's first occurrence, the "
    "product-analytics rule a flat funnel ignores); per-stage session "
    "counts and the end-to-end conversion rate.",
)
def events_sessionized_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (one user_id shuffle) then three
    per-(user, session) conditional min-aggs chained by co-partitioned
    joins — every stage keys on (user_id, sid), so the funnel adds no
    exchange beyond the sessionizer's."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 12 HOURS"), 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    # (ts, event_id) is a TOTAL order — a (ts, event_type) ordering
    # would leave the running session id ambiguous on timestamp ties.
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        "event_type",
        F.sum("new_session").over(wo).alias("sid"),
    )
    v = (
        numbered.filter(F.col("event_type") == "view")
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        numbered.filter(F.col("event_type") == "click")
        .join(v, ["user_id", "sid"])
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        numbered.filter(F.col("event_type") == "purchase")
        .join(c, ["user_id", "sid"])
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("t_purchase"))
    )
    sessions = numbered.select("user_id", "sid").distinct()
    counts = sessions.agg(F.count(F.lit(1)).alias("n_sessions")).crossJoin(
        v.agg(F.count(F.lit(1)).alias("n_reached_view"))
    ).crossJoin(
        c.agg(F.count(F.lit(1)).alias("n_view_then_click"))
    ).crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    return counts.select(
        "n_sessions",
        "n_reached_view",
        "n_view_then_click",
        "n_full_funnel",
        (
            F.col("n_full_funnel").cast("double")
            / F.greatest(F.col("n_reached_view"), F.lit(1))
        ).alias("view_to_purchase"),
    )


@register(
    "events_cohort_ltv",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
            FROM events GROUP BY user_id
        ), aged AS (
            SELECT f.cohort_week,
                   CAST(datediff('day', f.cohort_week,
                                 date_trunc('week', e.ts)) // 7 AS BIGINT)
                       AS age_weeks,
                   e.user_id,
                   CAST(round(e.value * 100) AS BIGINT) AS cents
            FROM events e JOIN firsts f USING (user_id)
        ), rolled AS (
            SELECT cohort_week, age_weeks,
                   count(DISTINCT user_id) AS n_active_users,
                   CAST(sum(cents) AS BIGINT) AS revenue_cents
            FROM aged GROUP BY cohort_week, age_weeks
        )
        SELECT CAST(CAST(cohort_week AS DATE) AS VARCHAR) AS cohort_week,
               age_weeks, n_active_users, revenue_cents,
               CAST(sum(revenue_cents) OVER (
                   PARTITION BY cohort_week ORDER BY age_weeks
                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_revenue_cents
        FROM rolled
        ORDER BY cohort_week, age_weeks
    """,
    tags=("timeseries", "cohort", "ltv", "A1"),
    doc="Cohort LTV curves: users grouped by first-seen week, revenue "
    "rolled up by cohort x age-in-weeks, with the cumulative "
    "(lifetime-to-date) value per cohort — the retention economics "
    "view built on exact BIGINT cents so the curve is gate-checkable. "
    "Extends events_retention_cohort from presence counts to value.",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two shuffles (first-seen per user, cohort-age rollup) plus one
    small window over the rolled table (rows = cohorts x ages, tiny at
    any corpus scale)."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    aged = events.join(firsts, "user_id").select(
        "cohort_week",
        F.expr(
            "CAST(datediff(date_trunc('week', ts), cohort_week) div 7 "
            "AS BIGINT)"
        ).alias("age_weeks"),
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    rolled = aged.groupBy("cohort_week", "age_weeks").agg(
        F.count_distinct("user_id").alias("n_active_users"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rolled.select(
        F.date_format(F.col("cohort_week"), "yyyy-MM-dd").alias("cohort_week"),
        "age_weeks",
        "n_active_users",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    ).orderBy("cohort_week", "age_weeks")


@register(
    "events_interarrival_histogram",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   (epoch_us(ts) - epoch_us(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)))
                       // 1000000 AS gap_s
            FROM events
        ), sec AS (
            SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL
        )
        SELECT CAST(length(printf('%b', gap_s)) AS INTEGER) AS log2_bucket,
               count(*) AS n_gaps,
               CAST(min(gap_s) AS BIGINT) AS min_gap_s,
               CAST(max(gap_s) AS BIGINT) AS max_gap_s
        FROM sec
        GROUP BY 1
        ORDER BY log2_bucket
    """,
    tags=("timeseries", "distribution", "A1"),
    doc="Interarrival-time distribution per log2 bucket (burstiness "
    "profile): per-user event gaps in whole seconds, bucketed by "
    "binary magnitude — length(bin(gap)) is the exact integer "
    "equivalent of ceil(log2(gap+1)), no transcendental at the gate. "
    "The ops metric that sizes watermarks, session gaps, and state "
    "TTLs from the data instead of guessing.",
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One user_id window shuffle + a <=40-key rollup; NTZ interval
    arithmetic keeps the whole-second gaps calendar-free (same rule as
    timeseries_twap_per_user)."""
    events = load_table(spark, sf_dir, "events")
    gaps = events.select(
        F.expr(
            "CAST(ts - lag(ts) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS LONG)"
        ).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy(
            F.length(F.bin("gap_s")).cast("int").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("log2_bucket")
    )


@register(
    "events_time_to_convert",
    oracle="""
        WITH fv AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), fp AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN fv ON fv.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > fv.t_view
            GROUP BY e.user_id
        ), gaps AS (
            SELECT (epoch_us(fp.t_purchase) - epoch_us(fv.t_view))
                       // 1000000 AS gap_s
            FROM fv JOIN fp USING (user_id)
        )
        SELECT count(*) AS n_converted,
               CAST(min(gap_s) AS BIGINT) AS min_s,
               CAST(quantile_cont(gap_s, 0.5) AS DOUBLE) AS p50_s,
               CAST(quantile_cont(gap_s, 0.9) AS DOUBLE) AS p90_s,
               CAST(max(gap_s) AS BIGINT) AS max_s
        FROM gaps
    """,
    tags=("timeseries", "funnel", "conversion", "A1"),
    doc="Time-to-convert distribution: first view to first subsequent "
    "purchase per user, gaps as exact whole seconds (integer-micros "
    "floor — the DST-safe rule), summarized with exact interpolated "
    "percentiles — the latency view of the funnel (how LONG conversion "
    "takes, not just whether it happens).",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two conditional min-aggs on user_id (co-partitioned) and a
    single-row percentile summary over the (bounded: one row per
    converted user) gap table."""
    events = load_table(spark, sf_dir, "events")
    fv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    gaps = fv.join(fp, "user_id").select(
        F.expr("CAST(t_purchase - t_view AS LONG)").alias("gap_s")
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("gap_s").alias("min_s"),
        F.percentile("gap_s", 0.5).alias("p50_s"),
        F.percentile("gap_s", 0.9).alias("p90_s"),
        F.max("gap_s").alias("max_s"),
    )


_KCORE_K = 10
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    """Unrolled peeling rounds (aggregate recursion is outside
    recursive-CTE reach in both engines, so the fixpoint is unrolled
    to the same bounded round count the Spark loop uses)."""
    ctes = [
        """g0 AS (
            SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), e0 AS MATERIALIZED (
            SELECT u, v FROM g0
            UNION ALL
            SELECT v, u FROM g0
        )"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""k{r} AS MATERIALIZED (
            SELECT u FROM e{r - 1} GROUP BY u
            HAVING count(*) >= {_KCORE_K}
        ), e{r} AS MATERIALIZED (
            SELECT e.u, e.v FROM e{r - 1} e
            JOIN k{r} a ON a.u = e.u
            JOIN k{r} b ON b.u = e.v
        )"""
        )
    last = f"e{_KCORE_ROUNDS}"
    return f"""
        WITH {", ".join(ctes)}
        SELECT CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               CAST(u // 2 AS BIGINT) AS node_key,
               CAST(count(*) AS BIGINT) AS core_degree
        FROM {last}
        GROUP BY u
        ORDER BY node_type, node_key
    """


@register(
    "graph_kcore_membership",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "analytics"),
    doc=f"k-core decomposition (k={_KCORE_K}) of the customer-supplier "
    "purchase graph: iteratively peel nodes with degree < k until the "
    "surviving subgraph is stable — the standard dense-substructure "
    "extractor (and the graph analog of the quality filters: nodes "
    "outside the core are weakly-attested). Aggregate-in-recursion is "
    f"outside recursive-CTE reach, so BOTH arms run the same bounded "
    f"{_KCORE_ROUNDS}-round peel (measured convergence: 1-3 rounds at "
    "tested SFs — the cap is margin, and convergence means extra "
    "rounds are no-ops in both engines). Spark loop: one degree agg + "
    "two semi-joins per round, localCheckpoint per round for flat "
    "lineage, early-exit when a round removes nothing (safe: "
    "fixpoint rounds are identity in the oracle too). Completes the "
    "graph family: PageRank (centrality), CC (components), triangles "
    "(local density), k-core (global density).",
)
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    g = (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    edges = (
        g.unionByName(g.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    for _ in range(_KCORE_ROUNDS):
        core = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("u")
        )
        edges = (
            edges.join(core, "u")
            .join(core.select(F.col("u").alias("v")), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        n_next = edges.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    return (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(
            F.when(F.col("u") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("u div 2").alias("node_key"),
            F.col("core_degree").cast("long"),
        )
        .orderBy("node_type", "node_key")
    )


# --- personalized PageRank (random walk with restart) ----------------------

_PPR_SEED_MAX = 8  # customers 1..4 (nodes 2,4,6,8) — exist at every SF
_PPR_TOPK = 20
_PPR_ITERS = 3


def _ppr_oracle_sql() -> str:
    ctes = [
        f"""edges AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), back AS (
            SELECT dst AS src, src AS dst FROM edges
        ), alledges AS (
            SELECT src, dst FROM edges UNION SELECT src, dst FROM back
        ), nodes AS (
            SELECT DISTINCT src AS node FROM alledges
        ), seeds AS (
            SELECT node FROM nodes
            WHERE node % 2 = 0 AND node <= {_PPR_SEED_MAX}
        ), ns AS (SELECT count(*) AS n FROM seeds
        ), outdeg AS (
            SELECT src AS node, count(*) AS od FROM alledges GROUP BY 1
        ), r0 AS (
            SELECT n.node,
                   CASE WHEN s.node IS NOT NULL
                        THEN CAST({_RANK_SCALE} AS BIGINT) // (SELECT n FROM ns)
                        ELSE 0 END AS rank
            FROM nodes n LEFT JOIN seeds s ON s.node = n.node
        )"""
    ]
    for i in range(1, _PPR_ITERS + 1):
        p = i - 1
        ctes.append(f"""c{i} AS (
            SELECT e.dst AS node, CAST(sum(r.rank // o.od) AS BIGINT)
                   AS contrib
            FROM alledges e
            JOIN r{p} r ON r.node = e.src
            JOIN outdeg o ON o.node = e.src
            GROUP BY e.dst
        ), r{i} AS (
            SELECT n.node,
                   CASE WHEN s.node IS NOT NULL
                        THEN ((CAST({_RANK_SCALE} AS BIGINT) * 3) // 20)
                             // (SELECT n FROM ns)
                        ELSE 0 END
                   + (17 * COALESCE(c.contrib, 0)) // 20 AS rank
            FROM nodes n
            LEFT JOIN c{i} c ON c.node = n.node
            LEFT JOIN seeds s ON s.node = n.node
        )""")
    return f"""
        WITH {', '.join(ctes)}, ranked AS (
            SELECT node, rank,
                   row_number() OVER (ORDER BY rank DESC, node ASC) AS rnk
            FROM r{_PPR_ITERS} WHERE rank > 0
        )
        SELECT CAST(rnk AS INTEGER) AS rank,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               node // 2 AS node_key,
               CAST(rank AS BIGINT) AS ppr_micro,
               node % 2 = 0 AND node <= {_PPR_SEED_MAX} AS is_seed
        FROM ranked WHERE rnk <= {_PPR_TOPK}
        ORDER BY rnk
    """


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle_sql(),
    tags=("graph", "iterative", "scale"),
    doc="Personalized PageRank / random-walk-with-restart from a 4-"
    "customer seed set over the undirected purchase graph (3 damped "
    "iterations, restart mass 0.15 concentrated on the seeds instead "
    "of uniform) — THE graph recommendation primitive: the top "
    "non-seed nodes are 'suppliers/customers most relevant to this "
    "cohort', which global PageRank by construction cannot answer "
    "(its ranking is query-independent). Same exact-BIGINT 1e12 mass "
    "grid and truncating division as graph_pagerank_fixpoint; "
    "dangling mass is structurally zero here (the undirected graph "
    "has no sink nodes — every node with an in-edge has an "
    "out-edge), so the update is teleport(seed) + 0.85 * inbound, "
    "bit-identical cross-engine. Plan: per iteration ONE "
    "edges||rank join + groupBy(dst) (node-id shuffles, "
    "co-partitionable), seed membership rides a broadcast; rank "
    "mass stays sparse (only nodes within i hops of a seed are "
    "nonzero), which at 100 TB is the point — RWR touches the "
    "seed neighborhood, not the whole graph.",
)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Same build as queries_graph_ops._undirected_edges and the same
    # r13 rewrite (see its docstring): pin `directed` so the union's
    # two consumers share one materialization, and drop the outer
    # distinct — the forward (src even) and reversed (src odd) halves
    # are disjoint by node-id parity and each is already distinct.
    directed = (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = (
        directed.union(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    # nodes and outdeg are consumed by EVERY iteration — checkpoint
    # both once (node-count-sized, one shuffle each) instead of
    # re-deriving the distinct/groupBy from edges per iteration. The
    # n_seeds count below materializes edges+nodes (seeds' lineage);
    # outdeg is NOT in that lineage, so it checkpoints eagerly here —
    # otherwise the first iteration's join would still pay the groupBy
    # derivation this block exists to hoist. (r10: the PPR bench
    # tripwire profile traced its cost variance to exactly this
    # re-derivation + lineage growth.)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("od"))
        .localCheckpoint(eager=True)
    )
    seeds = nodes.filter(
        (F.col("node") % 2 == 0) & (F.col("node") <= _PPR_SEED_MAX)
    )
    n_seeds = seeds.count()
    if n_seeds == 0:
        # no seeds (empty graph or none in the seed range): empty
        # ranking, not ZeroDivisionError (tools/hostile_sweep.py)
        return nodes.select(
            F.lit(1).alias("rank"),
            F.lit("customer").alias("node_type"),
            F.col("node").alias("node_key"),
            F.col("node").alias("ppr_micro"),
            F.lit(False).alias("is_seed"),
        ).filter(F.lit(False))
    seed_flag = F.broadcast(seeds.withColumn("is_seed", F.lit(1)))
    # Fold the static out-degree INTO the rank relation (r13 — the
    # graph_pagerank_fixpoint trick, see its docstring): r carries
    # (node, od, rank), so each iteration is exactly ONE edges||r join
    # + one groupBy(dst); the former per-iteration r||outdeg join
    # disappears (3 joins hoisted), and outdeg replaces nodes as the
    # domain relation of the update (same row set: every node of the
    # undirected graph has an out-edge). Ranks are unchanged — od is
    # static and the update arithmetic is untouched.
    r = (
        outdeg.join(seed_flag, "node", "left")
        .select(
            "node",
            "od",
            F.when(
                F.col("is_seed").isNotNull(), F.lit(_RANK_SCALE // n_seeds)
            ).otherwise(0).cast("long").alias("rank"),
        )
    )
    teleport = ((_RANK_SCALE * 3) // 20) // n_seeds
    for it in range(_PPR_ITERS):
        if it:
            r = r.localCheckpoint(eager=False)
        contrib = (
            edges.join(r.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        r = (
            outdeg.join(contrib, outdeg["node"] == contrib["dst"], "left")
            .join(seed_flag, "node", "left")
            .select(
                "node",
                "od",
                (
                    F.when(
                        F.col("is_seed").isNotNull(), F.lit(teleport)
                    ).otherwise(0)
                    + F.expr("17 * coalesce(contrib, 0L) div 20")
                ).cast("long").alias("rank"),
            )
        )
    top = (
        r.filter(F.col("rank") > 0)
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(_PPR_TOPK)
    )
    wrank = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (
        top.withColumn("rnk", F.row_number().over(wrank))
        .select(
            F.col("rnk").alias("rank"),
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            F.col("rank").alias("ppr_micro"),
            (
                (F.col("node") % 2 == 0)
                & (F.col("node") <= _PPR_SEED_MAX)
            ).alias("is_seed"),
        )
        .orderBy("rank")
    )


# --- HITS hubs & authorities -----------------------------------------------

_HITS_SCALE = 10**6
_HITS_TOPK = 10

_HITS_ORACLE = f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), a1 AS (
        SELECT s, CAST({_HITS_SCALE} AS BIGINT) * count(*) AS v
        FROM edges GROUP BY s
    ), a1n AS (
        SELECT s, v * {_HITS_SCALE} // (SELECT max(v) FROM a1) AS v FROM a1
    ), h1 AS (
        SELECT e.c, CAST(sum(a.v) AS BIGINT) AS v
        FROM edges e JOIN a1n a ON a.s = e.s GROUP BY e.c
    ), h1n AS (
        SELECT c, v * {_HITS_SCALE} // (SELECT max(v) FROM h1) AS v FROM h1
    ), a2 AS (
        SELECT e.s, CAST(sum(h.v) AS BIGINT) AS v
        FROM edges e JOIN h1n h ON h.c = e.c GROUP BY e.s
    ), a2n AS (
        SELECT s, v * {_HITS_SCALE} // (SELECT max(v) FROM a2) AS v FROM a2
    ), h2 AS (
        SELECT e.c, CAST(sum(a.v) AS BIGINT) AS v
        FROM edges e JOIN a2n a ON a.s = e.s GROUP BY e.c
    ), h2n AS (
        SELECT c, v * {_HITS_SCALE} // (SELECT max(v) FROM h2) AS v FROM h2
    ), hub_deg AS (
        SELECT c, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY c
    ), auth_deg AS (
        SELECT s, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY s
    ), hubs AS (
        SELECT 'hub' AS node_type, h.c AS node_key, h.v AS score_micro,
               d.deg AS degree,
               row_number() OVER (ORDER BY h.v DESC, h.c ASC) AS rank
        FROM h2n h JOIN hub_deg d ON d.c = h.c
    ), auths AS (
        SELECT 'authority' AS node_type, a.s AS node_key, a.v AS score_micro,
               d.deg AS degree,
               row_number() OVER (ORDER BY a.v DESC, a.s ASC) AS rank
        FROM a2n a JOIN auth_deg d ON d.s = a.s
    )
    SELECT node_type, node_key, score_micro, degree, CAST(rank AS INTEGER)
               AS rank
    FROM (SELECT * FROM hubs WHERE rank <= {_HITS_TOPK}
          UNION ALL
          SELECT * FROM auths WHERE rank <= {_HITS_TOPK})
    ORDER BY node_type, rank
"""


@register(
    "graph_hits_hubs_authorities",
    oracle=_HITS_ORACLE,
    tags=("graph", "iterative", "scale"),
    doc="HITS (Kleinberg) hubs & authorities over the bipartite "
    "customer->supplier purchase graph: two mutual-reinforcement "
    "rounds — authority = sum of pointing hubs' scores, hub = sum of "
    "pointed authorities' scores — each round renormalized to a 1e6 "
    "grid by the iteration MAX (an exact-integer stand-in for the L2 "
    "norm that preserves the ranking, since normalization is a "
    "positive scalar either way); broad buyers surface as hubs, "
    "widely-bought suppliers as authorities — the second classic "
    "eigenvector ranking next to graph_pagerank_fixpoint, and the "
    "bipartite structure means HITS here is exactly the SALSA-style "
    "co-purchase reinforcement recommender signal. All arithmetic is "
    "BIGINT (scores <= 1e6 * degree, products <= 1e18), divisions "
    "truncate on non-negatives, so iterations are bit-identical "
    "cross-engine.",
)
def graph_hits_hubs_authorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per half-iteration: ONE edges||scores join + one groupBy on the
    receiving side (shuffles on node ids, co-partitionable by
    pre-bucketing edges), plus a 1-row max aggregate kept IN-PLAN as a
    broadcast cross join — no driver round-trip. The top-10 cut is
    sort+limit (TakeOrdered, no global sort); the rank column is a
    window over the 10 surviving rows only."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _maxnorm(df: DataFrame, key: str) -> DataFrame:
        mx = F.broadcast(df.agg(F.max("v").alias("mx")))
        return df.crossJoin(mx).select(
            key, F.expr(f"v * {_HITS_SCALE}L div mx").alias("v")
        )

    a1 = edges.groupBy("s").agg(
        (F.count(F.lit(1)) * _HITS_SCALE).cast("long").alias("v")
    )
    a1n = _maxnorm(a1, "s")
    h1 = edges.join(a1n, "s").groupBy("c").agg(
        F.sum("v").cast("long").alias("v")
    )
    h1n = _maxnorm(h1, "c").localCheckpoint(eager=False)
    a2 = edges.join(h1n, "c").groupBy("s").agg(
        F.sum("v").cast("long").alias("v")
    )
    a2n = _maxnorm(a2, "s").localCheckpoint(eager=False)
    h2 = edges.join(a2n, "s").groupBy("c").agg(
        F.sum("v").cast("long").alias("v")
    )
    h2n = _maxnorm(h2, "c")
    hub_deg = edges.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    auth_deg = edges.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    hubs = (
        h2n.join(hub_deg, "c")
        .orderBy(F.col("v").desc(), F.col("c").asc())
        .limit(_HITS_TOPK)
        .select(
            F.lit("hub").alias("node_type"),
            F.col("c").alias("node_key"),
            F.col("v").alias("score_micro"),
            "deg",
        )
    )
    auths = (
        a2n.join(auth_deg, "s")
        .orderBy(F.col("v").desc(), F.col("s").asc())
        .limit(_HITS_TOPK)
        .select(
            F.lit("authority").alias("node_type"),
            F.col("s").alias("node_key"),
            F.col("v").alias("score_micro"),
            "deg",
        )
    )
    wrank = Window.partitionBy("node_type").orderBy(
        F.col("score_micro").desc(), F.col("node_key").asc()
    )
    return (
        hubs.unionByName(auths)
        .withColumn("rank", F.row_number().over(wrank))
        .select(
            "node_type",
            "node_key",
            "score_micro",
            F.col("deg").alias("degree"),
            "rank",
        )
        .orderBy("node_type", "rank")
    )
