"""Golden streaming tests (SURVEY.md §5.3-5.4): replay ``events`` as a
file-source stream and assert the stateful layer's exactly-once
semantics against the batch oracle."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.operators.dedup import first_occurrence
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
from dynamodb_stream_processor_2_0_spark.streaming import replay, sinks
from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
    apply_delivery_state,
)
from dynamodb_stream_processor_2_0_spark.streaming.runner import (
    ROCKSDB,
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
                  for c in ("user_id", "event_type", "delivery_status",
                            "delivered_event_id"))
            )
        ).alias("e")
    ).select("e.*")
    assert entries.count() == keys, "exactly one state entry per key"
    assert entries.filter(F.col("delivery_status") != "delivered").count() == 0
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
    bucket; neither's status may leak into the other's."""
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

    def run(fn, batch, state):
        [out] = list(fn((7,), iter(batch), state))
        got = {}
        for r in out.itertuples():
            got.setdefault((r.user_id, r.event_type), []).append(
                (r.event_id, r.action, r.status_after)
            )
        users, types, statuses, delivered, attempts = state.get
        per_key = {
            (u, t): (s, d, n)
            for u, t, s, d, n in zip(users, types, statuses, delivered, attempts)
        }
        return got, per_key

    state = _FakeGroupState()
    got, per_key = run(make_bucket_fn(), chunks, state)
    dup, trig = "duplicate_prevented", "email_triggered"
    assert got == {
        a: [(10, trig, "delivered"), (20, dup, "delivered"),
            (30, dup, "delivered"), (40, dup, "delivered")],
        b: [(11, trig, "delivered"), (21, dup, "delivered"),
            (31, dup, "delivered")],
    }, "each key's rows emitted in its global ts order, earliest one wins"
    assert per_key == {a: ("delivered", 10, 4), b: ("delivered", 11, 3)}

    # The next micro-batch with that state: every row is a duplicate.
    later = [frame([(*b, 51, "2026-01-05"), (*a, 50, "2026-01-05")])]
    got, per_key = run(make_bucket_fn(), later, state)
    assert got == {a: [(50, dup, "delivered")], b: [(51, dup, "delivered")]}
    assert per_key == {a: ("delivered", 10, 5), b: ("delivered", 11, 4)}

    # S7: key b's first send fails after key a has delivered, so b's next
    # event delivers; key a, in the same bucket, is untouched by b's
    # revert to pending.
    state = _FakeGroupState()
    got, per_key = run(make_bucket_fn(lambda eid: eid != 11), chunks, state)
    assert got[a] == [(10, trig, "delivered"), (20, dup, "delivered"),
                      (30, dup, "delivered"), (40, dup, "delivered")]
    assert got[b] == [(11, "sink_failed", "delivered"), (21, trig, "delivered"),
                      (31, dup, "delivered")]
    assert per_key == {a: ("delivered", 10, 4), b: ("delivered", 21, 3)}

    # Arrow hands a user_id column holding a null to pandas as float64
    # (tools/hostile_sweep.py's nulls world); the null key keeps its own
    # entry and the others stay integers.
    state = _FakeGroupState()
    nulls = frame([(None, "click", 1, "2026-01-01"), (3, "click", 2, "2026-01-01")])
    _, per_key = run(make_bucket_fn(), [nulls], state)
    assert per_key == {(None, "click"): ("delivered", 1, 1),
                       (3, "click"): ("delivered", 2, 1)}
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


def test_delivery_state_sink_failure_compensation(spark, sf_dir, staged):
    """S7: a failing sink send must not mark the key delivered — the
    next attempt for that key must still be able to trigger. The whole
    disposition multiset must equal a sequential model of the reference
    (events in (ts, event_id) order, every odd event_id failing at the
    sink), so no key's status leaks into another key of its bucket."""
    q = run_available_now(
        spark,
        "dispositions_fail",
        lambda: apply_delivery_state(
            replay.read_event_stream(spark, staged),
            sink_ok=lambda eid: eid % 2 == 0,
        )
        .writeStream.outputMode("append")
        .format("memory"),
        timeout_s=120,
    )
    got = sorted(
        tuple(r)
        for r in spark.table(q.name)
        .select("user_id", "event_type", "event_id", "action")
        .collect()
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    status: dict[tuple, str] = {}
    want = []
    for r in sorted(events.collect(), key=lambda r: (r.ts, r.event_id)):
        key = (r.user_id, r.event_type)
        if status.get(key) == "delivered":
            action = "duplicate_prevented"
        elif r.event_id % 2 == 0:
            status[key], action = "delivered", "email_triggered"
        else:
            action = "sink_failed"
        want.append((*key, r.event_id, action))
    assert {a for *_, a in want} == {
        "email_triggered", "duplicate_prevented", "sink_failed"
    }, "the model must exercise every transition"
    assert got == sorted(want)


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
    # observed metrics cover all processed records
    total_processed = sum(m["records_processed"] for m in metrics)
    assert total_processed == load_table(spark, sf_dir, "events").count()


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


class _FakeMapState:
    """Minimal MapState double for unit-testing FirstTouchProcessor."""

    def __init__(self):
        self._d = {}

    def containsKey(self, k):
        return k in self._d

    def updateValue(self, k, v):
        self._d[k] = v


def test_first_touch_processor_chunk_and_batch_semantics():
    """Chunk order must not matter (concat+sort before iterating), and
    state must suppress re-emission across batches."""
    import pandas as pd

    from dynamodb_stream_processor_2_0_spark.streaming.first_touch import (
        FirstTouchProcessor,
    )

    p = FirstTouchProcessor()
    p._seen = _FakeMapState()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def pdf(rows):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [t0 + pd.Timedelta(seconds=r[1]) for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )

    # batch 1: two chunks, the true first 'click' (event 1, t=0) is in
    # the SECOND chunk — a chunk-order-sensitive implementation would
    # pick event 3 (t=5) instead.
    out1 = pd.concat(
        list(
            p.handleInputRows(
                (7,),
                iter([pdf([(3, 5, "click"), (2, 9, "view")]),
                      pdf([(1, 0, "click")])]),
                None,
            )
        )
    )
    got1 = dict(zip(out1.event_type, out1.first_event_id))
    assert got1 == {"click": 1, "view": 2}
    assert list(out1.user_id.unique()) == [7]

    # batch 2: repeat types emit nothing; a new type emits once.
    out2 = list(
        p.handleInputRows(
            (7,),
            iter([pdf([(9, 20, "click"), (10, 21, "purchase")])]),
            None,
        )
    )
    got2 = dict(zip(out2[0].event_type, out2[0].first_event_id))
    assert got2 == {"purchase": 10}


def test_first_touch_transform_with_state_e2e(spark, sf_dir):
    """Full transformWithStateInPandas run — requires google.protobuf
    (the new API's state-server protocol), absent in this container."""
    pytest.importorskip("google.protobuf")
    from dynamodb_stream_processor_2_0_spark.streaming.first_touch import (
        apply_first_touch,
    )

    staged = replay.stage_event_chunks(spark, sf_dir, chunks=4)
    q = run_available_now(
        spark,
        "first_touch",
        lambda: apply_first_touch(replay.read_event_stream(spark, staged))
        .writeStream.format("memory")
        .outputMode("append"),
        conf=ROCKSDB,
        timeout_s=240,
    )
    got = {
        (r.user_id, r.event_type): r.first_event_id
        for r in spark.table(q.name).collect()
    }
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.event_type): r.event_id
        for r in load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


def test_first_touch_batch_twin_matches_processor(spark, sf_dir):
    """first_touch_attribution (the registered batch twin) must pick the
    same winners as FirstTouchProcessor replaying the same events in
    arbitrary chunk order — the semantic-equivalence proof behind giving
    the transformWithState operator an oracle row via batch."""
    from dynamodb_stream_processor_2_0_spark.plans import registry
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
    from dynamodb_stream_processor_2_0_spark.streaming.first_touch import (
        FirstTouchProcessor,
    )

    batch = registry.get("first_touch_attribution").fn(spark, sf_dir)
    got_batch = {
        (r.user_id, r.event_type): r.first_event_id for r in batch.collect()
    }

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id", "ts")
        .toPandas()
        .sample(frac=1.0, random_state=7)  # arbitrary arrival order
    )
    got_proc: dict = {}
    for uid, g in ev.groupby("user_id"):
        p = FirstTouchProcessor()
        p._seen = _FakeMapState()
        chunks = [g.iloc[i::3] for i in range(3)]  # keys span chunks
        for out in p.handleInputRows((uid,), iter(chunks), None):
            for r in out.itertuples():
                got_proc[(uid, r.event_type)] = r.first_event_id
    assert got_batch == got_proc
