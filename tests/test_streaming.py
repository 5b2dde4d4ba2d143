"""Golden streaming tests (SURVEY.md §5.3-5.4): replay ``events`` as a
file-source stream and assert the stateful layer's exactly-once
semantics against the batch oracle."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.operators.dedup import first_occurrence
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.streaming import replay, sinks
from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
    apply_delivery_state,
)
from dynamodb_stream_processor_2_0_spark.streaming.runner import (
    conf_scope,
    run_available_now,
)


@pytest.fixture(scope="module")
def staged(spark, sf_dir):
    return replay.stage_event_chunks(spark, sf_dir, chunks=4)


def test_replay_preserves_all_events(spark, sf_dir, staged):
    total = load_table(spark, sf_dir, "events").count()
    staged_total = spark.read.parquet(f"{staged}/chunk=*").count()
    assert staged_total == total


def test_delivery_state_machine_exactly_once(spark, sf_dir, staged, tmp_path):
    """The heart of the reference (D4 CAS): across all micro-batches,
    each (user_id, event_type) key triggers exactly one email — the
    event-time-first one — and every other attempt is
    duplicate_prevented. The checkpointed state, read back through the
    statestore source, holds one row per hash bucket whose arrays carry
    exactly one entry per key, delivered to that key's winner."""
    checkpoint = str(tmp_path / "dispositions_ckpt")
    q = run_available_now(
        spark,
        "dispositions",
        lambda: apply_delivery_state(replay.read_event_stream(spark, staged))
        .writeStream.outputMode("append")
        .format("memory")
        .option("checkpointLocation", checkpoint),
        timeout_s=120,
    )
    out = spark.table(q.name)

    events = load_table(spark, sf_dir, "events")
    n_events = events.count()
    assert out.count() == n_events, "every event must receive a disposition"

    triggered = out.filter(F.col("action") == "email_triggered")
    keys = events.select("user_id", "event_type").distinct().count()
    assert triggered.count() == keys, "exactly one trigger per key"
    assert (
        triggered.groupBy("user_id", "event_type").count().filter("count > 1").count()
        == 0
    )

    # golden parity: the winner per key is the event-time-first event,
    # exactly what the batch window operator computes
    expected = (
        first_occurrence(events, ["user_id", "event_type"], ["ts", "event_id"])
        .select("user_id", "event_type", "event_id")
    )
    mismatches = (
        triggered.select("user_id", "event_type", "event_id")
        .exceptAll(expected)
        .count()
    )
    assert mismatches == 0, "streaming winners must match batch first-occurrence"

    state = spark.read.format("statestore").load(checkpoint)
    assert state.count() <= 64, "one state row per hash bucket"
    entries = state.select(
        F.explode(
            F.arrays_zip(
                *(F.col(f"value.groupState.{c}").alias(c)
                  for c in ("user_id", "event_type", "delivered_event_id"))
            )
        ).alias("e")
    ).select("e.*")
    assert entries.count() == keys, "exactly one state entry per key"
    stored = entries.select(
        "user_id", "event_type", F.col("delivered_event_id").alias("event_id")
    )
    assert stored.exceptAll(expected).count() == 0
    assert expected.exceptAll(stored).count() == 0


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing the stateful fn."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_delivery_fn_multi_chunk_global_order():
    """A bucket's micro-batch slice can span multiple Arrow chunks
    (> arrow.maxRecordsPerBatch rows per group), and chunk order is not
    ts-ordered after the shuffle. Each key's winner must still be its
    global (ts, event_id) minimum — a per-chunk sort would deliver
    whatever the first chunk happens to hold (the round-1 bug: hidden at
    test scale because groups fit in one chunk). Two keys share the
    bucket; neither's winner may leak into the other's."""
    import pandas as pd

    from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
        make_bucket_fn,
    )

    def frame(rows):
        user_id, event_type, event_id, ts = zip(*rows)
        return pd.DataFrame(
            {"user_id": list(user_id), "event_type": list(event_type),
             "event_id": list(event_id),
             "ts": pd.to_datetime(list(ts), format="ISO8601")}
        )

    a, b = (1, "click"), (2, "view")
    # Adversarial arrival: both keys interleave across three chunks, and
    # each key's event-time-first event (10 and 11) is in the LAST chunk.
    chunks = [
        frame([(*a, 30, "2026-01-03"), (*b, 31, "2026-01-03 12:00"),
               (*a, 40, "2026-01-04")]),
        frame([(*b, 21, "2026-01-02 12:00"), (*a, 20, "2026-01-02")]),
        frame([(*b, 11, "2026-01-01 12:00"), (*a, 10, "2026-01-01")]),
    ]

    def run(batch, state):
        [out] = list(make_bucket_fn()((7,), iter(batch), state))
        got = {}
        for r in out.itertuples():
            got.setdefault((r.user_id, r.event_type), []).append(
                (r.event_id, r.action, r.status_after)
            )
        users, types, delivered = state.get
        return got, dict(zip(zip(users, types), delivered))

    state = _FakeGroupState()
    got, winners = run(chunks, state)
    dup, trig = "duplicate_prevented", "email_triggered"
    assert got == {
        a: [(10, trig, "delivered"), (20, dup, "delivered"),
            (30, dup, "delivered"), (40, dup, "delivered")],
        b: [(11, trig, "delivered"), (21, dup, "delivered"),
            (31, dup, "delivered")],
    }, "each key's rows emitted in its global ts order, earliest one wins"
    assert winners == {a: 10, b: 11}

    # The next micro-batch with that state: every row is a duplicate.
    later = [frame([(*b, 51, "2026-01-05"), (*a, 50, "2026-01-05")])]
    got, winners = run(later, state)
    assert got == {a: [(50, dup, "delivered")], b: [(51, dup, "delivered")]}
    assert winners == {a: 10, b: 11}

    # Arrow hands a user_id column holding a null to pandas as float64
    # (tools/hostile_sweep.py's nulls world); the null key keeps its own
    # entry and the others stay integers.
    state = _FakeGroupState()
    nulls = frame([(None, "click", 1, "2026-01-01"), (3, "click", 2, "2026-01-01")])
    _, winners = run([nulls], state)
    assert winners == {(None, "click"): 1, (3, "click"): 2}
    assert type(state.get[0][1]) is int


def test_delivery_state_exactly_once_tiny_arrow_batches(spark, sf_dir, staged):
    """E2E variant of the multi-chunk case: force 2-row Arrow batches so
    every real group spans chunks, and require streaming winners to
    still equal the batch first-occurrence oracle."""
    q = run_available_now(
        spark,
        "dispositions_tiny_chunks",
        lambda: apply_delivery_state(replay.read_event_stream(spark, staged))
        .writeStream.outputMode("append")
        .format("memory"),
        conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "2"},
        timeout_s=120,
    )
    out = spark.table(q.name)
    events = load_table(spark, sf_dir, "events")
    assert out.count() == events.count()
    triggered = out.filter(F.col("action") == "email_triggered")
    expected = first_occurrence(
        events, ["user_id", "event_type"], ["ts", "event_id"]
    ).select("user_id", "event_type", "event_id")
    assert (
        triggered.select("user_id", "event_type", "event_id")
        .exceptAll(expected)
        .count()
        == 0
    ), "streaming winners must match batch first-occurrence"


def test_delivery_state_sink_failure_compensation(
    spark, sf_dir, staged, tmp_path
):
    """S7: a failed send must not mark its keys delivered. The sink
    raises on epoch 0 before it keeps anything, so that epoch's state
    was written but the batch never committed. The query restarted from
    the checkpoint re-runs epoch 0 on empty state, and the whole
    disposition multiset must equal a sequential model of the reference
    (events in (ts, event_id) order, the first per key triggers): a key
    the failed attempt had claimed would show up as duplicate only."""
    checkpoint = str(tmp_path / "ckpt")
    kept: dict[int, list[tuple]] = {}

    def sink(fail):
        def write(batch_df, epoch_id):
            if fail and epoch_id == 0:
                raise RuntimeError("queue send failed on epoch 0")
            kept[epoch_id] = [
                tuple(r)
                for r in batch_df.select(
                    "user_id", "event_type", "event_id", "action"
                ).collect()
            ]

        return lambda: (
            apply_delivery_state(replay.read_event_stream(spark, staged))
            .writeStream.foreachBatch(write)
            .option("checkpointLocation", checkpoint)
        )

    with pytest.raises(StreamingQueryException, match="queue send failed"):
        run_available_now(spark, "dispositions_fail", sink(True), timeout_s=120)
    assert kept == {}
    restart = run_available_now(
        spark, "dispositions_retry", sink(False), timeout_s=120
    )
    assert restart.recentProgress[0]["batchId"] == 0, (
        "the restart must re-run the failed epoch"
    )
    assert any(a == "email_triggered" for *_, a in kept[0]), (
        "the failed epoch carried no winner, so its retry proves nothing"
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    won: set[tuple] = set()
    want = []
    for r in sorted(events.collect(), key=lambda r: (r.ts, r.event_id)):
        key = (r.user_id, r.event_type)
        action = "duplicate_prevented" if key in won else "email_triggered"
        won.add(key)
        want.append((*key, r.event_id, action))
    got = [row for rows in kept.values() for row in rows]
    assert sorted(got) == sorted(want)


def test_watermark_dedup_stream(spark, staged):
    """dropDuplicatesWithinWatermark on the dedup key: no key is ever
    emitted twice across micro-batches (D5 at the sink boundary)."""
    q = run_available_now(
        spark,
        "deduped",
        lambda: replay.read_event_stream(spark, staged)
        .withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .writeStream.outputMode("append")
        .format("memory"),
        timeout_s=120,
    )
    out = spark.table(q.name)
    dupes = out.groupBy("user_id", "event_type").count().filter("count > 1").count()
    assert dupes == 0


def test_windowed_agg_stream_matches_batch(spark, sf_dir, staged):
    """Tumbling 1-day event-time windows with watermark == batch
    date_trunc aggregation."""
    q = run_available_now(
        spark,
        "windowed",
        lambda: replay.read_event_stream(spark, staged)
        .withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("append")
        .format("memory"),
        timeout_s=120,
    )
    got = {
        (r["window"]["start"], r.event_type): r.n
        for r in spark.table(q.name).selectExpr("window", "event_type", "n").collect()
    }
    batch = {
        (r.day, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # append mode only emits windows the watermark has closed; every
    # emitted window must match the batch result exactly
    assert got, "expected at least one closed window"
    for key, n in got.items():
        assert batch.get(key) == n, f"window {key}: stream {n} != batch {batch.get(key)}"


def test_envelope_sink_idempotent_and_observed(spark, sf_dir, staged, tmp_path):
    """S3 envelope sink via foreachBatch + S4 observe metrics."""
    out_dir = str(tmp_path / "envelopes")
    q = run_available_now(
        spark,
        "envelopes",
        lambda: sinks.observed(
            apply_delivery_state(replay.read_event_stream(spark, staged))
        ).writeStream.foreachBatch(sinks.write_envelopes(out_dir)),
        timeout_s=120,
    )
    # recentProgress is synchronous (unlike StreamingQueryListener, whose
    # events are delivered async and can miss the final batch)
    metrics = [
        p["observedMetrics"]["metrics"]
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("metrics")
    ]

    files = sorted(glob.glob(f"{out_dir}/epoch=*/part-*.json"))
    bodies = []
    for f in files:
        with open(f) as fh:
            bodies += [json.loads(line) for line in fh if line.strip()]
    assert bodies, "sink wrote no envelopes"
    parsed = [json.loads(b["message_body"]) for b in bodies]
    assert all(
        set(p) == {"id", "type", "payload", "metadata"} for p in parsed
    ), "envelope shape (index.js:585-600 analog)"
    # within every epoch, dedup ids are unique (D5 at the sink)
    from collections import Counter, defaultdict

    per_epoch: dict[str, Counter] = defaultdict(Counter)
    for f in files:
        epoch = f.split("epoch=")[1].split("/")[0]
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    per_epoch[epoch][json.loads(line)["dedup_id"]] += 1
    assert all(
        max(c.values()) == 1 for c in per_epoch.values() if c
    ), "dedup_id repeated within an epoch"
    # observed metrics cover all processed records, each carrying one
    # of the two dispositions
    total = {k: sum(m[k] for m in metrics) for k in metrics[0].asDict()}
    assert total["records_processed"] == load_table(spark, sf_dir, "events").count()
    assert total["records_processed"] == (
        total["emails_triggered"] + total["duplicates_prevented"]
    )
    assert total["processing_errors"] == 0


def test_session_window_stream_matches_batch(spark, sf_dir, staged):
    """Streaming session windows (watermark-closed) must agree with the
    batch session_window operator — the golden twin of the registered
    session_window_12h query."""
    q = run_available_now(
        spark,
        "sessions",
        lambda: replay.read_event_stream(spark, staged)
        .withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", "12 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("append")
        .format("memory"),
        timeout_s=120,
    )
    got = {
        (r.user_id, r["w"]["start"]): r.n
        for r in spark.table(q.name).selectExpr("user_id", "w", "n").collect()
    }
    assert got, "expected at least one closed session"
    # compare against the REGISTERED batch query itself (not an inline
    # re-derivation), so the golden twin is pinned to what the driver
    # actually gates:
    from dynamodb_stream_processor_2_0_spark.plans import registry

    registry._load()
    batch = {
        (r.user_id, r.session_start): r.n_events
        for r in registry.REGISTRY["session_window_12h"].fn(spark, sf_dir).collect()
    }
    # append mode only emits watermark-closed sessions; each must match
    for key, n in got.items():
        assert batch.get(key) == n, f"session {key}: stream {n} != batch {batch.get(key)}"


def test_streaming_e2e_parity_in_a_wide_non_utc_session(spark, sf_dir):
    """A plain SparkSession is 200 wide and not UTC (as in
    tools/gate_sim.py --plain): the runner caps the width and pins UTC
    for the run only, so parity holds and the caller's conf is unchanged
    afterwards."""
    from dynamodb_stream_processor_2_0_spark.plans import registry
    from tests.oracle_harness import compare_query

    plain_session = {
        "spark.sql.shuffle.partitions": "200",
        "spark.sql.session.timeZone": "America/New_York",
    }
    with conf_scope(spark, plain_session):
        before = dict(spark.conf.getAll)
        for name in ("streaming_window_agg_e2e", "streaming_stream_join_e2e"):
            compare_query(spark, registry.get(name), sf_dir)
            assert dict(spark.conf.getAll) == before, name


def test_sessionize_fn_chunk_spanning_and_state_carry():
    """make_sessionize_fn must (a) sort a key's batch slice across
    Arrow chunks before numbering and (b) carry (last_ts, session_no)
    across invocations (micro-batches)."""
    import pandas as pd

    from dynamodb_stream_processor_2_0_spark.streaming.sessionize import (
        make_sessionize_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = v

    fn = make_sessionize_fn(gap_seconds=3600)
    state = FakeState()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def pdf(rows):
        return pd.DataFrame(
            {
                "user_id": [1] * len(rows),
                "event_id": [r[0] for r in rows],
                "ts": [t0 + pd.Timedelta(seconds=r[1]) for r in rows],
            }
        )

    # batch 1 arrives as two chunks, out of ts order across chunks:
    # events at 0s, 10s, then a 2h gap to 7210s
    out1 = pd.concat(
        list(fn((1,), iter([pdf([(3, 7210), (1, 0)]), pdf([(2, 10)])]), state))
    )
    got1 = dict(zip(out1.event_id, zip(out1.session_no, out1.event_in_session)))
    assert got1 == {1: (1, 1), 2: (1, 2), 3: (2, 1)}

    # batch 2: 30 min after the last event -> same session; then 2h -> new
    out2 = pd.concat(list(fn((1,), iter([pdf([(4, 9010), (5, 16300)])]), state)))
    got2 = dict(zip(out2.event_id, zip(out2.session_no, out2.event_in_session)))
    assert got2 == {4: (2, 2), 5: (3, 1)}


def test_first_touch_attribution_matches_sequential_model(spark, sf_dir):
    """first_touch_attribution must pick, per (user_id, event_type), the
    winner a sequential claim picks when the events arrive in arbitrary
    order: a record wins its key unless the key's current winner is
    earlier by (ts, event_id). Every other touch of the key is
    suppressed and counted."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    batch = registry.get("first_touch_attribution").fn(spark, sf_dir)
    got = {
        (r.user_id, r.event_type): (r.first_event_id, r.n_touches, r.n_suppressed)
        for r in batch.collect()
    }

    arrivals = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id", "ts")
        .toPandas()
        .sample(frac=1.0, random_state=7)  # arbitrary arrival order
    )
    winner: dict = {}
    touches: dict = {}
    for r in arrivals.itertuples():
        key = (r.user_id, r.event_type)
        touches[key] = touches.get(key, 0) + 1
        if key not in winner or (r.ts, r.event_id) < winner[key]:
            winner[key] = (r.ts, r.event_id)
    want = {
        key: (event_id, touches[key], touches[key] - 1)
        for key, (_, event_id) in winner.items()
    }
    assert got == want
