"""Event-time windowing queries over ``events`` — the batch-checkable
face of the streaming layer (SURVEY.md §7 phase 2-3).

The reference processes records at-arrival with no event-time windows
(SURVEY.md §2.7, verified absent in index.js); these are the extension
ops a Spark-native engine adds so the same aggregations run identically
in batch and in Structured Streaming (`streaming/` uses the identical
expressions behind `withWatermark`, see tests/test_streaming.py).

Scale notes:
- Tumbling/sliding windows are plain hash aggregations on
  (window_start, keys) — map-side combinable, one shuffle, no state.
  The sliding window materializes windows-per-event rows (2 here), not
  a per-window re-scan, so cost is O(events x windows_per_event).
- Session windows in batch compile to Spark's native
  `session_window` (gaps-and-islands over a per-key sort); the
  shuffle is keyed on user_id so skewed users are the thing to watch —
  at 100 TB, pre-filter bot-like keys or cap session length upstream.

Float determinism: decimal(18,2) sums (value is generated with 2
decimals), cast to DOUBLE only at the output boundary (both engines
cast the identical exact decimal, so the doubles are bit-equal; a raw
decimal output would decay to float64 on the DuckDB->pandas side but
stay Decimal on the Spark side and fail the driver's stringify).

Run contract of the 16 streaming queries (``streaming_*``): each runs a
real availableNow Structured Streaming query through
``streaming.runner.run_available_now`` and returns what landed in its
sink.
- Conf scope: the run's overrides are set on the caller's session and
  every key's prior value (or unset state) is restored in a ``finally``.
  ``spark.sql.shuffle.partitions`` is capped at 32 when the session is
  wider: stateful streaming runs without AQE coalescing, so each shuffle
  partition is a state-store task per micro-batch, and per-key results
  do not depend on the width. Per query the scope also pins UTC, the
  RocksDB state-store provider or the JSON-path optimizer switch. One
  set/restore scope, not a ``spark.newSession()`` child: a child
  session cannot see Python data sources registered on the parent.
- The streaming DataFrame is built inside the scope, because casts bind
  the session time zone when the DataFrame is built, not at ``start()``.
- Staged input: the replay chunks a query reads (``replay.stage_event_chunks``
  and its hashed and wire-JSONL siblings, the near-dup document chunks)
  are written once per process per (sf_dir, chunks) through
  ``sources.formats.staged`` and deleted at interpreter exit; sink
  outputs and checkpoints are fresh per run.
- No partial results: a query that has not drained within its timeout
  (180 s; 240 s for the outer join, 300 s for near-dup arrival) is
  stopped and ``TimeoutError`` is raised instead of reading its sink.
- ``streaming_window_agg_e2e``, ``streaming_chained_window_agg_e2e`` and
  ``streaming_late_data_audit_e2e`` pin UTC: the replay source casts
  TIMESTAMP_NTZ to an instant (watermarks reject NTZ) and ``F.window``
  aligns to UTC epoch days, so a non-UTC session would shift both the
  cast and the rendered day label. Their outputs are strings and longs,
  so nothing time-zone sensitive outlives the scope.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources import formats
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.sources.formats import staged_tmpdir
from dynamodb_stream_processor_2_0_spark.streaming.runner import (
    ROCKSDB,
    UTC,
    run_available_now,
)


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


# Exact decimal sum, surfaced as double at the output boundary.
def _dsum(col: str) -> F.Column:
    return F.sum(_dec(col)).cast("double")


_DSUM_SQL = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"


@register(
    "window_tumbling_daily",
    oracle=f"""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
               CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS win_end,
               event_type,
               count(*) AS n_events,
               {_DSUM_SQL} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    tags=("streaming-batch", "window", "event-time"),
    doc="Tumbling 1-day event-time windows per event_type (batch face of the streaming windowed agg).",
)
def window_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "window_sliding_2d_1d",
    oracle=f"""
        WITH expanded AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                       - o.off * INTERVAL 1 DAY AS win_start,
                   user_id, value
            FROM events, (VALUES (0), (1)) AS o(off)
        )
        SELECT win_start,
               win_start + INTERVAL 2 DAY AS win_end,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               {_DSUM_SQL} AS sum_value
        FROM expanded
        GROUP BY 1, 2
    """,
    tags=("streaming-batch", "window", "event-time"),
    doc="Sliding 2-day/1-day hop windows: each event lands in exactly 2 windows (explode-then-agg, no re-scan).",
)
def window_sliding_2d_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_events",
            "n_users",
            "sum_value",
        )
    )


@register(
    "session_window_12h",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 12 HOUR
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 12 HOUR AS session_end,
               count(*) AS n_events,
               {_DSUM_SQL} AS sum_value
        FROM numbered
        GROUP BY user_id, sid
    """,
    tags=("streaming-batch", "window", "session"),
    doc="Per-user session windows (12h inactivity gap) via native session_window; oracle is the gaps-and-islands equivalent.",
)
def session_window_12h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "12 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "streaming_delivery_e2e",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT user_id, event_type, event_id,
               CASE WHEN rn = 1 THEN 'email_triggered'
                    ELSE 'duplicate_prevented' END AS action,
               'delivered' AS status_after
        FROM ranked
    """,
    tags=("streaming", "S1", "S4", "S5", "S6", "S7", "D4", "E5"),
    doc="End-to-end Structured Streaming run under the differential gate: "
    "availableNow file replay -> per-key delivery state machine "
    "(applyInPandasWithState over 64 hash buckets of the key) -> memory "
    "sink; the exactly-once outcome is SQL-expressible so the oracle "
    "checks the streaming execution itself.",
)
def streaming_delivery_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the actual streaming query synchronously (availableNow over
    4 ts-ordered chunks, index.js:34-101 batch semantics) and returns
    the materialized dispositions. Because replay chunks are exact
    (ts, event_id) slices, the streaming winner per key equals the
    batch first-occurrence — which is what the oracle asserts."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay, sinks
    from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
        apply_delivery_state,
    )

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)

    def build():
        stream = replay.read_event_stream(spark, staged)
        return (
            sinks.observed(apply_delivery_state(stream))
            .writeStream.format("memory")
            .outputMode("append")
        )

    return spark.table(run_available_now(spark, "delivery_e2e", build).name)


@register(
    "events_funnel",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
               CASE WHEN p.user_id IS NOT NULL THEN 'purchased'
                    WHEN c.user_id IS NOT NULL THEN 'clicked'
                    ELSE 'viewed' END AS funnel_stage
        FROM v
        LEFT JOIN c ON c.user_id = v.user_id
        LEFT JOIN p ON p.user_id = v.user_id
    """,
    tags=("streaming-batch", "funnel", "sequence"),
    doc="Ordered conversion funnel (view -> click -> purchase): sequential min-after-threshold chain per user.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence analytics over the event stream: each stage is the
    earliest qualifying event strictly after the previous stage. Three
    keyed aggregations + two left joins on user_id — all co-partitioned
    on the same key, so at scale the extra stages reuse one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), "purchased")
        .when(F.col("t_click").isNotNull(), "clicked")
        .otherwise("viewed")
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase", stage.alias("funnel_stage"))
    )


@register(
    "asof_join_last_order",
    oracle="""
        WITH ded AS (
            SELECT o_custkey, o_orderdate,
                   CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS last_order_price
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, e.ts,
               d.o_orderdate AS last_order_date,
               d.last_order_price
        FROM events e
        ASOF LEFT JOIN ded d
          ON e.user_id = d.o_custkey AND d.o_orderdate <= e.ts
    """,
    tags=("streaming-batch", "asof", "temporal"),
    doc="As-of join: each event picks up the latest at-or-before order of the "
    "same user — union-and-window implementation vs DuckDB's native ASOF JOIN.",
)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark has no ASOF JOIN; this is the scalable composition (tag +
    union + per-key last_value window — one shuffle, no range
    explosion). Orders are pre-deduped to one row per (custkey, date)
    so tie-breaking is deterministic on both engines."""
    from dynamodb_stream_processor_2_0_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_order_date"),
        )
        .agg(
            F.max(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("last_order_price")
        )
    )
    return asof_join(
        ev,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="last_order_date",
        right_vals=["last_order_date", "last_order_price"],
    ).select("event_id", "user_id", "ts", "last_order_date", "last_order_price")


@register(
    "range_join_event_neighbors",
    oracle="""
        SELECT a.user_id, a.event_id AS a_id, count(*) AS n_neighbors
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_id <> b.event_id
         AND abs(CAST(floor(epoch(a.ts)) AS BIGINT)
                 - CAST(floor(epoch(b.ts)) AS BIGINT)) <= 3600
        GROUP BY 1, 2
    """,
    tags=("streaming-batch", "range-join", "temporal"),
    doc="Band/range join: same-user events within +/-1h of each other — "
    "bucketed equi-join with residual filter vs the oracle's theta join.",
)
def range_join_event_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inequality join becomes an equi-join on (user, time-bucket)
    with each row probing its own + adjacent buckets — shuffle cost is
    O(rows x 3), never the theta join's per-key n^2 probe."""
    from dynamodb_stream_processor_2_0_spark.operators.temporal import band_join_count

    ev = load_table(spark, sf_dir, "events")
    return band_join_count(
        ev, key="user_id", ts="ts", id_col="event_id", band_seconds=3600
    ).select(F.col("user_id"), F.col("a_id"), F.col("n_neighbors"))


@register(
    "hypertable_rollup",
    oracle="""
        WITH hourly AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                   event_type,
                   count(*) AS n_events,
                   sum(CAST(value AS DECIMAL(18,2))) AS sum_value
            FROM events GROUP BY 1, 2
        ), daily AS (
            SELECT CAST(date_trunc('day', bucket) AS TIMESTAMP) AS bucket,
                   event_type,
                   sum(n_events) AS n_events,
                   sum(sum_value) AS sum_value
            FROM hourly GROUP BY 1, 2
        )
        SELECT 'hour' AS resolution, bucket, event_type,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(sum_value AS DOUBLE) AS sum_value FROM hourly
        UNION ALL
        SELECT 'day', bucket, event_type,
               CAST(n_events AS BIGINT),
               CAST(sum_value AS DOUBLE) FROM daily
    """,
    tags=("streaming-batch", "window", "rollup", "hypertable"),
    doc="Hypertable-style continuous aggregate: hourly buckets aggregated from "
    "raw rows, daily buckets RE-aggregated from the hourly partials (sum of "
    "sums) — the multi-resolution rollup pattern, one raw scan total.",
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coarser level never re-reads raw data — it merges the finer
    level's partials (exactly how a 100 TB continuous aggregate stays
    cheap: the daily job reads 24 hourly rows per key, not 86M raw
    events)."""
    ev = load_table(spark, sf_dir, "events")
    # window() (not date_trunc) — date_trunc coerces TIMESTAMP_NTZ
    # through the session time zone and shifts bucket boundaries in
    # non-UTC sessions; window() is NTZ-native.
    hourly = (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("bucket"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).alias("sum_value"),
        )
    )
    daily = (
        hourly.groupBy(
            F.window("bucket", "1 day").start.alias("bucket"), "event_type"
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
    boundary = lambda df: df.withColumn(  # noqa: E731
        "sum_value", F.col("sum_value").cast("double")
    ).withColumn("n_events", F.col("n_events").cast("bigint"))
    return (
        boundary(hourly.select(F.lit("hour").alias("resolution"), "bucket", "event_type", "n_events", "sum_value"))
        .unionByName(
            boundary(daily.select(F.lit("day").alias("resolution"), "bucket", "event_type", "n_events", "sum_value"))
        )
    )


def _purchase_click_join_writer(spark: SparkSession, staged: str, how: str):
    """Memory-sink writer of two replays of the staged events joined on
    user: each purchase with the clicks in the hour up to it, both sides
    under a 10-minute watermark."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    def side(event_type: str, user: str, event_id: str, ts: str) -> DataFrame:
        return (
            replay.read_event_stream(spark, staged)
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "10 minutes")
            .select(
                F.col("user_id").alias(user),
                F.col("event_id").alias(event_id),
                F.col("ts").alias(ts),
            )
        )

    joined = side("purchase", "p_user", "purchase_id", "purchase_ts").join(
        side("click", "c_user", "click_id", "click_ts"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        how,
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
    )
    return joined.writeStream.format("memory").outputMode("append")


@register(
    "streaming_stream_join_e2e",
    oracle="""
        SELECT p.user_id,
               p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.ts AS purchase_ts,
               c.ts AS click_ts
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts <= p.ts
    """,
    tags=("streaming", "stream-stream-join", "S1"),
    doc="Stream-stream interval join under the differential gate: two replays "
    "of the event stream (purchases vs clicks) joined on user within a 1h "
    "look-back, run as a real Structured Streaming query (availableNow) and "
    "checked against the batch theta-join oracle.",
)
def streaming_stream_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner interval joins emit on match (watermarks bound STATE, not
    results): each side keeps only a 1h+delay window of rows per user in
    the state store, which is what makes the join runnable on an
    unbounded stream — the batch equivalent would need the full history
    on both sides. Replay chunks are exact ts slices, so nothing is
    late and the availableNow result equals the batch theta join."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)
    build = partial(_purchase_click_join_writer, spark, staged, "inner")
    return spark.table(run_available_now(spark, "stream_join_e2e", build).name)


@register(
    "streaming_dedup_watermark_e2e",
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup", "watermark", "D4"),
    doc="Streaming dedup with bounded state: dropDuplicatesWithinWatermark "
    "on (user_id, event_type) over the replayed event stream — the "
    "streaming form of the reference's dedup layers (index.js:107-141): "
    "a key is admitted once and suppressed for as long as its state "
    "lives, with the watermark bounding state lifetime (the scale knob "
    "plain dropDuplicates lacks).",
)
def streaming_dedup_watermark_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark delay (3650 days) exceeds the test replay's span,
    so no key's state is evicted mid-replay and the availableNow result
    equals exact DISTINCT — which is what makes the oracle valid. In
    production the delay is the dedup horizon: state is dropped once
    the watermark passes last-seen + delay, holding per-executor state
    at O(live keys within horizon) instead of O(all keys ever). Only
    the key columns are projected: within a micro-batch the kept row
    for a key is arrival-order dependent, the key itself is not."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)

    def build():
        return (
            replay.read_event_stream(spark, staged)
            .withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
            .writeStream.format("memory")
            .outputMode("append")
        )

    return spark.table(run_available_now(spark, "stream_dedup", build).name)


@register(
    "streaming_window_agg_e2e",
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY day, event_type
        HAVING CAST(day AS TIMESTAMP) + INTERVAL 1 DAY
               <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tags=("streaming", "watermark", "window", "A1"),
    doc="Streaming event-time windowed aggregation, append mode: 1-day "
    "tumbling windows with a 10-minute watermark over the replayed "
    "stream. Append emits a window exactly once, when the watermark "
    "passes its end — the oracle reproduces that emission rule in SQL "
    "(windows whose end <= max event time - delay; availableNow runs a "
    "final flush batch after the last data batch, so the terminal "
    "watermark is max(ts) - delay).",
)
def streaming_window_agg_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTC-pinned (module docstring): all output columns are
    strings/longs computed inside the pinned scope — nothing
    timezone-sensitive escapes to the gate. Append + watermark is the
    scale contract: per-key state is one partial aggregate per open
    window, closed windows leave the store."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)

    def build():
        return (
            replay.read_event_stream(spark, staged)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                "event_type",
                "n_events",
                "sum_cents",
            )
            .writeStream.format("memory")
            .outputMode("append")
        )

    q = run_available_now(spark, "stream_wagg", build, conf=UTC)
    return spark.table(q.name)


@register(
    "streaming_sessionize_e2e",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id, ts,
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events
        ), sessions AS (
            SELECT user_id, event_id, ts,
                   CAST(sum(CASE WHEN prev_ts IS NULL
                                 OR ts - prev_ts > INTERVAL 1 HOUR
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_no
            FROM gaps
        )
        SELECT user_id, event_id, session_no,
               CAST(row_number() OVER (PARTITION BY user_id, session_no
                                       ORDER BY ts, event_id) AS BIGINT)
                   AS event_in_session
        FROM sessions
    """,
    tags=("streaming", "stateful", "session", "D4"),
    doc="Custom gap-based sessionizer (streaming/sessionize.py, "
    "applyInPandasWithState): per-user numbered sessions carried across "
    "micro-batches with per-event labels — session semantics the "
    "built-in session_window cannot express; the oracle is the batch "
    "gaps-and-islands computation.",
)
def streaming_sessionize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric per-key state (last ts, session counter) instead of the
    delivery machine's status enum; same replay determinism argument:
    chunks are exact (ts, event_id) slices, so streaming arrival order
    per key is event-time order and the labels equal the batch
    computation."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay
    from dynamodb_stream_processor_2_0_spark.streaming.sessionize import (
        apply_sessionize,
    )

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)

    def build():
        stream = replay.read_event_stream(spark, staged)
        return (
            apply_sessionize(stream, gap_seconds=3600)
            .writeStream.format("memory")
            .outputMode("append")
        )

    q = run_available_now(spark, "sessionize_e2e", build)
    return spark.table(q.name).select(
        "user_id", "event_id", "session_no", "event_in_session"
    )


@register(
    "streaming_static_enrich_e2e",
    oracle="""
        WITH dim AS (
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%dT%H:%M:%S') AS first_ts_iso,
                   count(*) AS lifetime_events
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.event_type,
               d.first_ts_iso, d.lifetime_events
        FROM events e JOIN dim d ON e.user_id = d.user_id
    """,
    tags=("streaming", "join", "S2", "D3"),
    doc="Stream-static enrichment join: the replayed event stream joined "
    "per micro-batch against a broadcast static profile dim — the "
    "streaming form of the reference's keyed point lookup (S2/D3, "
    "index.js:107-141): every record enriched by key with no state "
    "store (the static side re-resolves per batch, so dim updates are "
    "picked up between batches).",
)
def streaming_static_enrich_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static joins are stateless — each micro-batch inner-joins
    against the current static snapshot, so output = batch join exactly
    (no watermark, no late-data semantics to model in the oracle). The
    dim is broadcast: the stream side never shuffles, which at 100 TB/day
    stream rates is the difference between an enrichment map stage and a
    continuous shuffle."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)
    events = load_table(spark, sf_dir, "events")

    def build():
        dim = events.groupBy("user_id").agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias(
                "first_ts_iso"
            ),
            F.count(F.lit(1)).alias("lifetime_events"),
        )
        return (
            replay.read_event_stream(spark, staged)
            .join(F.broadcast(dim), "user_id")
            .select(
                "event_id", "user_id", "event_type", "first_ts_iso",
                "lifetime_events",
            )
            .writeStream.format("memory")
            .outputMode("append")
        )

    return spark.table(run_available_now(spark, "static_enrich", build).name)


@register(
    "streaming_foreachbatch_sink_e2e",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT CAST(user_id AS VARCHAR) || '-' || lower(event_type)
                   AS dedup_id,
               'email_' || CAST(user_id AS VARCHAR) || '_'
                   || CAST(event_id AS VARCHAR) AS msg_id,
               'face_match_email' AS msg_type,
               event_id, user_id, event_type
        FROM ranked WHERE rn = 1
    """,
    tags=("streaming", "S3", "D5", "E2", "sink"),
    doc="foreachBatch queue-sink e2e (S3/D5, index.js:570-611): the "
    "delivery state machine's triggered emails written as JSON message "
    "envelopes to an epoch-keyed path (idempotent retry target), then "
    "read back and unpacked — the gate checks what actually landed in "
    "the sink files, not what the query planned to send.",
)
def streaming_foreachbatch_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Only email_triggered rows are sinked: exactly one per (user_id,
    event_type) across the whole stream, so the landed envelope set is
    deterministic (the envelope's enqueuedAt wall-clock stamp is
    excluded from the comparison — everything else round-trips through
    to_json and back). Epoch-keyed overwrite directories make a retried
    epoch rewrite the same path: at-least-once delivery + idempotent
    sink = exactly-once observed output, the E2 contract."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay, sinks
    from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
        apply_delivery_state,
    )

    out_dir = staged_tmpdir(prefix="envelope_sink_")
    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)
    write = sinks.write_envelopes(out_dir)

    def sink_triggered(batch_df, epoch_id):
        write(batch_df.filter(F.col("action") == "email_triggered"), epoch_id)

    def build():
        stream = replay.read_event_stream(spark, staged)
        return (
            apply_delivery_state(stream)
            .writeStream.foreachBatch(sink_triggered)
            .outputMode("append")
        )

    run_available_now(spark, "envelope_sink", build)
    landed = spark.read.schema("dedup_id string, message_body string").json(
        f"{out_dir}/epoch=*"
    )
    body = F.col("message_body")
    return landed.select(
        "dedup_id",
        F.get_json_object(body, "$.id").alias("msg_id"),
        F.get_json_object(body, "$.type").alias("msg_type"),
        F.get_json_object(body, "$.payload.event_id").cast("long").alias("event_id"),
        F.get_json_object(body, "$.payload.user_id").cast("long").alias("user_id"),
        F.get_json_object(body, "$.payload.event_type").alias("event_type"),
    )


@register(
    "streaming_incremental_rollup_e2e",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               count(value) AS n_valued
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("streaming", "A1", "S5", "update-mode"),
    doc="Incremental materialized-rollup maintenance: update-mode "
    "streaming aggregation + foreachBatch upsert into a snapshot table. "
    "Each micro-batch emits only the groups it changed (with cumulative "
    "values, so the upsert is last-write-wins per key), and the final "
    "snapshot equals the full batch rollup — the streaming analog of "
    "the reference's incremental per-batch metrics publication "
    "(publishMetrics, index.js:617-656).",
)
def streaming_incremental_rollup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update mode keeps one row of state per group (no watermark
    needed for a keyed lifetime rollup); foreachBatch sees just the
    delta rows, so the sink write per micro-batch is O(changed groups),
    not O(all groups) — the property that makes this viable when the
    rollup itself is large. ONE stateful aggregation only: chaining a
    second streaming agg in update mode would re-consume each upstream
    re-emission as a new row and double-count (Spark's
    statefulOperator.checkCorrectness flags exactly this). Cents as
    BIGINT keeps the cumulative sum order-independent across
    micro-batches."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)
    snapshot: dict[str, tuple] = {}

    def upsert(batch_df, epoch_id):
        # Changed groups only; cumulative values -> last write wins.
        # PRECONDITION: the rollup key (event_type) is bounded-
        # cardinality (single digits here), which is what makes a
        # driver-side collect of the update-mode delta safe. Do NOT
        # copy this pattern for a high-cardinality rollup key —
        # write the delta to a keyed sink (foreachBatch MERGE /
        # partitioned parquet) instead. The guard makes the
        # precondition loud if the key set ever grows.
        rows = batch_df.collect()
        if len(rows) > 10_000:
            raise AssertionError(
                "incremental-rollup upsert collected "
                f"{len(rows)} delta rows; the driver-side snapshot "
                "pattern requires a bounded-cardinality rollup key"
            )
        for row in rows:
            snapshot[row["event_type"]] = (
                row["n_events"],
                row["sum_cents"],
                row["n_valued"],
            )

    def build():
        return (
            replay.read_event_stream(spark, staged)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
                F.count("value").alias("n_valued"),
            )
            .writeStream.foreachBatch(upsert)
            .outputMode("update")
        )

    run_available_now(spark, "incr_rollup", build)
    return (
        spark.createDataFrame(
            [(k, *v) for k, v in snapshot.items()],
            "event_type string, n_events long, sum_cents long, n_valued long",
        )
        .orderBy("event_type")
    )


@register(
    "streaming_python_source_e2e",
    oracle="""
        WITH ordered AS (
            SELECT *,
                   CAST(FLOOR((row_number() OVER (ORDER BY ts, event_id) - 1)
                        / CEIL(count(*) OVER () / 4.0)) AS INTEGER) AS chunk
            FROM events
        ), parsed AS (
            SELECT chunk, event_id, user_id, event_type,
                   COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                            AS INTEGER), 0) AS k
            FROM ordered
        )
        SELECT chunk,
               concat('evt-', event_id) AS record_id,
               CASE WHEN event_type = 'purchase' THEN 'INSERT'
                    ELSE 'MODIFY' END AS event_name,
               CAST(user_id AS VARCHAR) AS guest_id,
               k AS total_matches
        FROM parsed
        WHERE event_type <> 'error'
    """,
    tags=("streaming", "source", "S1", "connector", "python-datasource"),
    doc="Custom Python DataSourceStreamReader end-to-end: the wire "
    "format replayed through spark.readStream.format("
    "'dynamodb_stream_wire_replay') with chunk-index offsets (one "
    "chunk per micro-batch), parsed by the JVM expression layer, "
    "landed in a memory sink. Chunk boundaries survive as "
    "InputPartitions (one reader task per chunk). The gate proves "
    "every staged record crosses the custom source exactly once and "
    "lands in the chunk its global (ts, event_id) rank demands.",
)
def streaming_python_source_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless pipe (no watermark/state), so the memory-sink append
    across micro-batches is exactly the union of chunk parses;
    availableNow polls latestOffset once and drains every staged
    chunk, each as its own reader partition. The run turns off the
    JSON-path optimizer so parse_new_image parses each record once."""
    from dynamodb_stream_processor_2_0_spark.sources import (
        dynamodb_stream as DS,
        python_datasource as PDS,
    )

    PDS.register_wire_datasource(spark)
    path = PDS.staged_wire_chunks_jsonl(spark, sf_dir, chunks=4)

    def build():
        wire = (
            spark.readStream.format("dynamodb_stream_wire_replay")
            .option("path", path)
            .load()
        )
        return (
            DS.parse_new_image(DS.decode_records(wire), extra_cols=("chunk",))
            .select("chunk", "record_id", "event_name", "guest_id", "total_matches")
            .writeStream.format("memory")
            .outputMode("append")
        )

    q = run_available_now(spark, "py_source", build)
    return spark.table(q.name)


@register(
    "streaming_python_sink_e2e",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT CAST(user_id AS VARCHAR) || '-' || lower(event_type)
                   AS dedup_id,
               'email_' || CAST(user_id AS VARCHAR) || '_'
                   || CAST(event_id AS VARCHAR) AS msg_id,
               event_id, user_id, event_type
        FROM ranked WHERE rn = 1
    """,
    tags=("streaming", "sink", "S3", "D5", "E2", "E5", "python-datasource"),
    doc="Python DataSourceStreamWriter e2e: the delivery state "
    "machine's triggered envelopes land through writeStream.format("
    "'dynamodb_envelope_sink') with per-epoch manifest commits "
    "(executors stage, driver publishes epoch=<id>.manifest.json; a "
    "retried epoch republishes the same manifest). The gate reads back "
    "only manifest-listed files — the sink-API analog of the "
    "foreachBatch envelope sink (index.js:570-611).",
)
def streaming_python_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.sources import (
        python_datasource as PDS,
    )
    from dynamodb_stream_processor_2_0_spark.streaming import replay, sinks
    from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
        apply_delivery_state,
    )

    PDS.register_wire_datasource(spark)
    out_dir = staged_tmpdir(prefix="envelope_pysink_")
    ckpt = staged_tmpdir(prefix="pysink_ckpt_")
    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)

    def build():
        stream = replay.read_event_stream(spark, staged)
        triggered = apply_delivery_state(stream).filter(
            F.col("action") == "email_triggered"
        )
        return (
            sinks.envelope(triggered)
            .writeStream.format("dynamodb_envelope_sink")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    run_available_now(spark, "py_sink", build)
    landed = PDS.read_committed_envelopes(
        spark, out_dir, "dedup_id string, message_body string"
    )
    body = F.col("message_body")
    return landed.select(
        "dedup_id",
        F.get_json_object(body, "$.id").alias("msg_id"),
        F.get_json_object(body, "$.payload.event_id").cast("long").alias("event_id"),
        F.get_json_object(body, "$.payload.user_id").cast("long").alias("user_id"),
        F.get_json_object(body, "$.payload.event_type").alias("event_type"),
    )


@register(
    "streaming_outer_join_e2e",
    oracle="""
        WITH wm AS (
            -- Spark's global watermark is the MIN across the query's
            -- watermark operators (multipleWatermarkPolicy=min): one per
            -- filtered stream, so min(max purchase ts, max click ts) - delay.
            SELECT least(
                (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
                (SELECT max(ts) FROM events WHERE event_type = 'click')
            ) - INTERVAL 10 MINUTE AS w
        )
        SELECT p.user_id,
               p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.ts AS purchase_ts,
               c.ts AS click_ts
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts <= p.ts
        UNION ALL
        SELECT p.user_id, p.event_id, NULL, p.ts, NULL
        FROM events p, wm
        WHERE p.event_type = 'purchase'
          AND p.ts < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM events c
              WHERE c.user_id = p.user_id
                AND c.event_type = 'click'
                AND c.ts >= p.ts - INTERVAL 1 HOUR
                AND c.ts <= p.ts
          )
    """,
    tags=("streaming", "stream-stream-join", "outer", "S1"),
    doc="Stream-stream LEFT OUTER interval join e2e: matched pairs emit "
    "on match; unmatched purchases emit null-padded only once the "
    "watermark proves no qualifying click can still arrive. The global "
    "watermark is the MIN across both per-stream watermark operators "
    "(default multipleWatermarkPolicy=min), so under availableNow's "
    "final flush batch the terminal watermark is "
    "min(max purchase ts, max click ts) - 10 min. "
    "The oracle reproduces that emission rule exactly — "
    "purchases too close to the end of the stream are correctly "
    "withheld, which is the semantics that makes outer joins safe on "
    "unbounded streams.",
)
def streaming_outer_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same state-bounding as the inner variant (each side keeps ~1h of
    rows per user); the outer part adds an eviction-time emission. The
    null-padded rows are exactly the left rows whose join window closed
    below the final watermark — deterministic because replay chunks are
    exact ts slices and availableNow runs a terminal no-data batch."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)
    build = partial(_purchase_click_join_writer, spark, staged, "left_outer")
    q = run_available_now(spark, "outer_join_e2e", build, timeout_s=240)
    return spark.table(q.name)


@register(
    "streaming_chained_window_agg_e2e",
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               count(DISTINCT CAST(floor(epoch(ts) / 21600) AS BIGINT))
                   AS n_6h_windows,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY day
        HAVING CAST(day AS TIMESTAMP) + INTERVAL 1 DAY
               <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        ORDER BY day
    """,
    tags=("streaming", "watermark", "window", "chained", "A1"),
    doc="Chained streaming window aggregation (Spark 3.4+): 6-hour "
    "tumbling pre-aggregate rolled into daily totals in the SAME "
    "streaming query — the second groupBy consumes the first's window "
    "column directly. The daily state operator holds 6h partials "
    "(4 rows/day) instead of raw events, the hierarchical-rollup shape "
    "that keeps state bounded at 100 TB/day ingest. Emission rule "
    "matches single-window append: a day emits when the watermark "
    "passes its end; the oracle filters days by max(ts) - 10min.",
)
def streaming_chained_window_agg_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both aggs share one watermark (10 min); the daily window's
    n_6h_windows proves the roll really consumed pre-aggregated rows
    (4 per full day), not raw events. UTC-pinned (module docstring)."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)

    def build():
        six_hourly = (
            replay.read_event_stream(spark, staged)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "6 hours").alias("w6"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
        )
        return (
            six_hourly.groupBy(F.window(F.col("w6"), "1 day").alias("wd"))
            .agg(
                F.count(F.lit(1)).alias("n_6h_windows"),
                F.sum("n_events").alias("n_events"),
                F.sum("sum_cents").alias("sum_cents"),
            )
            .select(
                F.date_format("wd.start", "yyyy-MM-dd").alias("day"),
                "n_6h_windows",
                "n_events",
                "sum_cents",
            )
            .writeStream.format("memory")
            .outputMode("append")
        )

    q = run_available_now(spark, "stream_chained", build, conf=UTC)
    return spark.table(q.name).orderBy("day")


@register(
    "streaming_late_data_audit_e2e",
    oracle="""
        WITH tagged AS (
            SELECT ts, value,
                   CAST(concat('0x', substr(md5(concat('late:', event_id)), 1, 8))
                        AS BIGINT) % 4 AS chunk
            FROM events
        ), chunk_stats AS (
            SELECT chunk, max(ts) AS chunk_max FROM tagged GROUP BY chunk
        ), wm AS (
            -- the stateful operator's LATE FILTER in batch k uses the
            -- PREVIOUS batch's watermark (consistent with the eviction
            -- that already happened), i.e. event-time stats through
            -- batch k-2, minus the 10-minute delay — measured and
            -- pinned here; the (k-1)-stats rule drops 2-3x too much.
            -- Joined on the chunk NUMBER (b.chunk <= a.chunk - 2), not
            -- a ROWS frame over chunk_stats, so an empty hash chunk
            -- can never misalign the batch numbering.
            SELECT a.chunk,
                   max(b.chunk_max) - INTERVAL 10 MINUTE AS wm_filter
            FROM chunk_stats a
            LEFT JOIN chunk_stats b ON b.chunk <= a.chunk - 2
            GROUP BY a.chunk
        ), survivors AS (
            SELECT t.ts, t.value
            FROM tagged t JOIN wm USING (chunk)
            WHERE wm.wm_filter IS NULL
               OR date_trunc('day', t.ts) + INTERVAL 1 DAY > wm.wm_filter
        )
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM survivors
        GROUP BY day
        HAVING CAST(day AS TIMESTAMP) + INTERVAL 1 DAY
               <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        ORDER BY day
    """,
    tags=("streaming", "watermark", "late-data", "A1"),
    doc="Late-data semantics, oracle-pinned: events replay in HASH order "
    "(arrival uncorrelated with event time), so the 10-minute watermark "
    "genuinely drops late rows. The oracle reproduces Spark's exact "
    "rule in SQL — a row in batch k is dropped iff its 1-day window "
    "closed under the PREVIOUS batch's watermark (stats through batch "
    "k-2; stateful operators filter with the late-events watermark one "
    "batch behind eviction). The ts-ordered replays elsewhere never "
    "trigger drops; this is the disorder path every production stream "
    "actually takes.",
)
def streaming_late_data_audit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk boundaries are md5-deterministic and batch order is the
    file-write order, so the drop set is reproducible run-to-run and
    engine-to-engine; UTC-pinned (module docstring)."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks_hashed(spark, sf_dir, chunks=4)

    def build():
        return (
            replay.read_event_stream(spark, staged)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                "n_events",
                "sum_cents",
            )
            .writeStream.format("memory")
            .outputMode("append")
        )

    q = run_available_now(spark, "stream_late", build, conf=UTC)
    return spark.table(q.name).orderBy("day")


@register(
    "streaming_rocksdb_state_e2e",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS min_cents,
               CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "rocksdb", "state-store", "A1"),
    doc="Streaming per-user rollup on the RocksDB state store provider — "
    "the state backend that holds at 100 TB: keyed state lives off-heap "
    "on local SSD with changelog checkpointing instead of in the "
    "executor heap (the default HDFS-backed provider OOMs once live "
    "keys outgrow memory). The query asserts RocksDB actually served "
    "the state operator, then the gate proves the backend swap changed "
    "nothing semantically.",
)
def streaming_rocksdb_state_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The provider is a per-query binding read from the session conf
    at start, so the run scopes it. Complete-mode memory
    sink keeps the result table driver-side (test harness only — a
    production complete-mode sink would be a keyed upsert store); the
    state itself stays in RocksDB on the executors, which is the part
    that must scale."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)

    def build():
        cents = F.round(F.col("value") * 100).cast("long")
        return (
            replay.read_event_stream(spark, staged)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(cents).alias("sum_cents"),
                F.min(cents).alias("min_cents"),
                F.max(cents).alias("max_cents"),
            )
            .writeStream.format("memory")
            .outputMode("complete")
        )

    q = run_available_now(spark, "rocks_state", build, conf=ROCKSDB)
    used_rocksdb = any(
        "rocksdb" in key.lower()
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
        for key in (op.get("customMetrics") or {})
    )
    if not used_rocksdb:
        raise AssertionError(
            "streaming_rocksdb_state_e2e: no rocksdb state-store "
            "metrics in query progress — the provider binding did "
            "not take effect"
        )
    return spark.table(q.name)


@register(
    "streaming_state_introspection",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "state-store", "statestore-reader", "S2"),
    doc="State-store introspection via Spark 4's State Data Source: a "
    "keyed streaming rollup drains under availableNow, then its "
    "CHECKPOINTED STATE is read back with "
    "spark.read.format('statestore') and flattened — proving the "
    "persisted per-key state equals the batch aggregate. This is the "
    "operational surface a 100 TB streaming deployment needs to debug "
    "state without replaying the stream (the reference debugs by "
    "re-querying its DynamoDB state rows, index.js:107-141; here the "
    "state store itself is queryable).",
)
def streaming_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statestore read is partition-parallel (one reader task per
    state-store shard); key/value structs are flattened positionally
    (state value fields carry internal names like 'count'/'sum', in
    aggregate-declaration order)."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)
    ckpt = staged_tmpdir(prefix="state_introspect_ckpt_")

    def build():
        return (
            replay.read_event_stream(spark, staged)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
            .writeStream.format("memory")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
        )

    run_available_now(spark, "state_introspect", build)
    state = spark.read.format("statestore").load(ckpt)
    key_cols = state.select("key.*").columns
    val_cols = state.select("value.*").columns
    return state.select(
        F.col(f"key.{key_cols[0]}").alias("user_id"),
        F.col(f"value.{val_cols[0]}").alias("n_events"),
        F.col(f"value.{val_cols[1]}").alias("sum_cents"),
    )


from dynamodb_stream_processor_2_0_spark.operators.dedup import (
    minhash_bands_oracle_cte as _mh_bands_cte,
)


@register(
    "streaming_neardup_arrival_e2e",
    oracle=f"""
        WITH {_mh_bands_cte()},
        firsts AS (
            SELECT band, sig, min(doc_id) AS first_id
            FROM bands GROUP BY band, sig
        )
        SELECT d.doc_id,
               COALESCE(bool_or(f.first_id < d.doc_id), FALSE) AS is_neardup
        FROM documents d
        LEFT JOIN bands b ON b.doc_id = d.doc_id
        LEFT JOIN firsts f ON f.band = b.band AND f.sig = b.sig
        GROUP BY d.doc_id
    """,
    tags=("streaming", "dedup", "minhash", "llm", "D3", "D4"),
    doc="Near-duplicate detection AT ARRIVAL: documents replay in "
    "doc_id order (4 contiguous chunks, one micro-batch each); every "
    "batch computes its MinHash band signatures, probes the "
    "accumulated signature index for any earlier doc sharing a band "
    "bucket (plus a within-batch first-occurrence window), flags, and "
    "appends its own signatures to the index — the streaming form of "
    "the reference's lookup-then-claim dedup (index.js:107-141, "
    "448-497) applied to fuzzy content identity. The oracle pins the "
    "arrival rule declaratively: a doc is a near-dup iff some band "
    "bucket's first occupant has a smaller doc_id.",
)
def streaming_neardup_arrival_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State is the (band, sig) signature index — docs x n_bands small
    rows, never content — stored as appended parquet per batch (the
    foreachBatch analog of a keyed state store; at 100 TB this is a
    bucketed table or the state-store API, same key). Batch order is
    deterministic: chunks are contiguous doc_id ranges written in
    order, maxFilesPerTrigger=1 drains them oldest-first."""
    from pyspark.sql.utils import AnalysisException

    from dynamodb_stream_processor_2_0_spark.operators import dedup

    def write(src: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        per = -(-docs.count() // 4)
        for k in range(4):
            (
                docs.filter(
                    (F.col("doc_id") >= k * per) & (F.col("doc_id") < (k + 1) * per)
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{src}/chunk={k}")
            )

    src = formats.staged("neardup_src_", (sf_dir,), write)
    state_dir = staged_tmpdir(prefix="neardup_state_")
    out_dir = staged_tmpdir(prefix="neardup_out_")

    def process(batch_df, epoch_id):
        bspark = batch_df.sparkSession
        bands = dedup.minhash_band_signatures(batch_df).localCheckpoint()
        try:
            state = bspark.read.parquet(state_dir)
            seen = state.select("band", "sig").distinct()
        except AnalysisException:
            seen = None
        from pyspark.sql import Window as W

        internal_first = F.min("doc_id").over(W.partitionBy("band", "sig"))
        flagged_internal = (
            bands.withColumn("first_id", internal_first)
            .filter(F.col("first_id") < F.col("doc_id"))
            .select("doc_id")
        )
        if seen is not None:
            flagged_external = bands.join(
                seen, ["band", "sig"], "left_semi"
            ).select("doc_id")
            flagged = flagged_internal.union(flagged_external).distinct()
        else:
            flagged = flagged_internal.distinct()
        result = batch_df.select("doc_id").join(
            flagged.withColumn("is_neardup", F.lit(True)), "doc_id", "left"
        ).select(
            "doc_id", F.coalesce("is_neardup", F.lit(False)).alias("is_neardup")
        )
        result.write.mode("append").parquet(out_dir)
        bands.select("doc_id", "band", "sig").write.mode("append").parquet(
            state_dir
        )

    def build():
        return (
            spark.readStream.schema(spark.read.parquet(f"{src}/chunk=0").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/chunk=*")
            .writeStream.foreachBatch(process)
        )

    run_available_now(spark, "neardup_arrival", build, timeout_s=300)
    return spark.read.parquet(out_dir)


@register(
    "session_window_dynamic_gap",
    oracle=f"""
        WITH g AS (
            SELECT user_id, event_id, ts, value,
                   CASE event_type
                       WHEN 'purchase' THEN INTERVAL 2 HOUR
                       WHEN 'click' THEN INTERVAL 6 HOUR
                       ELSE INTERVAL 12 HOUR
                   END AS gap
            FROM events
        ), m AS (
            SELECT user_id, ts, value, ts + gap AS myend,
                   max(ts + gap) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_maxend
            FROM g
        ), flagged AS (
            SELECT user_id, ts, value, myend,
                   CASE WHEN prev_maxend IS NULL OR ts > prev_maxend
                        THEN 1 ELSE 0 END AS new_session
            FROM m
        ), numbered AS (
            SELECT user_id, ts, value, myend,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, myend
                       ROWS UNBOUNDED PRECEDING
                   ) AS sid
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(myend) AS session_end,
               count(*) AS n_events,
               {_DSUM_SQL} AS sum_value
        FROM numbered
        GROUP BY user_id, sid
    """,
    tags=("streaming-batch", "window", "session", "dynamic-gap"),
    doc="Session windows with a DYNAMIC per-event inactivity gap "
    "(purchase 2h, click 6h, else 12h — engaged-action sessions close "
    "faster): native session_window(ts, gap_expr) vs the sweep-line "
    "interval-union oracle (running max of ts+gap decides session "
    "breaks). The per-event gap is what production sessionization "
    "actually needs — one fixed gap over mixed event kinds either "
    "fragments or glues sessions.",
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same single shuffle on user_id as the fixed-gap form; the gap
    expression is evaluated map-side and the merge happens inside the
    session-window aggregation operator."""
    ev = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("2 hours"))
        .when(F.col("event_type") == "click", F.lit("6 hours"))
        .otherwise(F.lit("12 hours"))
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
