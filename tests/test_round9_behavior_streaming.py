"""Round-9 planted batch-twin tests for the streaming e2e family.

The r8 verdict's item 8: 14 registered streaming queries' semantics
rested on golden replay alone (inventory class S).  For the ones with a
deterministic batch shadow, this file plants a tiny hand-designed
events fixture (production schema) in a tmp sf_dir, runs the REGISTERED
streaming query end-to-end on it (real Structured Streaming: staging,
availableNow replay, watermarks, state stores), and checks the result
against a sequential-Python third implementation of the documented
semantics — dedup, append-mode emission, chained-window rollup,
per-user state, and the batch-k late-data rule.

Unlike the twin-formula oracle (same-author SQL), the Spark arm here is
the engine itself, not a formula: a match proves the documented rule
actually describes Structured Streaming's behavior on NEW data, which
is what the golden replays could not show.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest

from tests import planted


def _cents(v: float) -> int:
    """Spark F.round(value*100) is HALF_UP; fixture values are exact
    quarters so HALF_UP == round-half-even == plain round here."""
    scaled = v * 100
    assert scaled == int(scaled), f"fixture value {v} is not cent-exact"
    return int(scaled)


# --- the main planted stream: 2 full days + an empty day + a tail ----------
#
# 11 events; stage_event_chunks(chunks=4) slices the ts-sorted order
# into ntiles of ceil(11/4)=3, so the micro-batches are
#   batch0: e0,e1,e2   batch1: e3,e4,e5   batch2: e6,e7,e8
#   batch3: e9,e10
# The (u1, click) key appears in batch0 twice AND batch2 — suppression
# must work within a batch and across state, which is the D4 semantics.
_D0 = "2024-03-01"


_D1 = "2024-03-02"


_TAIL = "2024-03-04"  # 2024-03-03 is an empty day: no row may appear for it


_MAIN_EVENTS = [
    (0, f"{_D0}T01:00:00", 1, "click", 1.25),
    (1, f"{_D0}T01:10:00", 1, "click", 2.50),
    (2, f"{_D0}T07:30:00", 2, "view", 0.75),
    (3, f"{_D0}T13:00:00", 1, "purchase", 10.00),
    (4, f"{_D0}T13:30:00", 3, "click", 3.25),
    (5, f"{_D0}T19:45:00", 2, "purchase", 5.50),
    (6, f"{_D1}T02:00:00", 1, "click", 4.00),
    (7, f"{_D1}T02:05:00", 4, "view", 1.00),
    (8, f"{_D1}T14:20:00", 2, "view", 2.25),
    (9, f"{_D1}T14:40:00", 3, "purchase", 7.75),
    (10, f"{_TAIL}T00:05:00", 1, "view", 0.50),
]


@pytest.fixture(scope="module")
def main_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("planted_stream")
    planted.write(tmp, "events", _MAIN_EVENTS)
    return tmp


def test_streaming_dedup_watermark_planted(spark, main_dir):
    """streaming_dedup_watermark_e2e on the planted stream must emit
    exactly the distinct (user_id, event_type) set — each key once,
    duplicates suppressed both inside a micro-batch (e0/e1) and across
    micro-batches via state (e0 in batch0 vs e6 in batch2)."""
    got = sorted(
        (r.user_id, r.event_type)
        for r in planted.run(spark, "streaming_dedup_watermark_e2e", main_dir)
    )
    expected_set = sorted({(uid, etype) for _, _, uid, etype, _ in _MAIN_EVENTS})
    assert got == expected_set
    # fixture strength: the suppression actually had work to do
    assert len(_MAIN_EVENTS) > len(expected_set)


def test_streaming_window_agg_append_emission_planted(spark, main_dir):
    """streaming_window_agg_e2e: append mode emits a (day, event_type)
    window exactly once, when the terminal watermark (max ts - 10 min)
    passes its end. With the tail at 2024-03-04T00:05 the watermark is
    2024-03-03T23:55, so days 03-01 and 03-02 emit and the tail's own
    day must NOT — recomputed sequentially from the fixture list."""
    max_ts = max(dt.datetime.fromisoformat(r[1]) for r in _MAIN_EVENTS)
    wm = max_ts - dt.timedelta(minutes=10)
    expected: dict[tuple[str, str], list[int]] = {}
    for _, ts_iso, _, etype, value in _MAIN_EVENTS:
        ts = dt.datetime.fromisoformat(ts_iso)
        day_start = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        if day_start + dt.timedelta(days=1) > wm:
            continue  # window not closed by the terminal watermark
        key = (day_start.strftime("%Y-%m-%d"), etype)
        agg = expected.setdefault(key, [0, 0])
        agg[0] += 1
        agg[1] += _cents(value)
    got = {
        (r.day, r.event_type): [r.n_events, r.sum_cents]
        for r in planted.run(spark, "streaming_window_agg_e2e", main_dir)
    }
    assert got == expected
    # fixture strength: both full days emitted, the tail day withheld
    assert {d for d, _ in expected} == {_D0, _D1}


def test_streaming_chained_window_agg_planted(spark, main_dir):
    """streaming_chained_window_agg_e2e: the daily rollup consumes 6-hour
    pre-aggregates, so n_6h_windows must equal the number of DISTINCT
    6h buckets a day's events fall into (4 on 03-01: hours 01/07/13/19;
    2 on 03-02: hours 02/14), with the same append emission rule."""
    max_ts = max(dt.datetime.fromisoformat(r[1]) for r in _MAIN_EVENTS)
    wm = max_ts - dt.timedelta(minutes=10)
    per_day: dict[str, tuple[set[int], list[int]]] = {}
    for _, ts_iso, _, _, value in _MAIN_EVENTS:
        ts = dt.datetime.fromisoformat(ts_iso)
        day_start = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        if day_start + dt.timedelta(days=1) > wm:
            continue
        buckets, agg = per_day.setdefault(
            day_start.strftime("%Y-%m-%d"), (set(), [0, 0])
        )
        buckets.add(int(ts.timestamp()) // 21600)
        agg[0] += 1
        agg[1] += _cents(value)
    expected = {
        day: [len(buckets), agg[0], agg[1]]
        for day, (buckets, agg) in per_day.items()
    }
    got = {
        r.day: [r.n_6h_windows, r.n_events, r.sum_cents]
        for r in planted.run(spark, "streaming_chained_window_agg_e2e", main_dir)
    }
    assert got == expected
    # fixture strength: the two days have DIFFERENT 6h-window counts,
    # so a rollup that consumed raw events (n_6h == n_events) or only
    # one pre-aggregate per day (n_6h == 1) cannot pass
    assert expected[_D0][0] == 4 and expected[_D1][0] == 2
    assert all(v[0] != v[1] for v in expected.values())


def test_streaming_rocksdb_state_planted(spark, main_dir):
    """streaming_rocksdb_state_e2e: per-user running state on the
    RocksDB provider, complete mode — n/sum/min/max must equal a
    sequential per-user accumulation over ALL planted events (no
    emission rule: complete mode republishes every key)."""
    expected: dict[int, list[int]] = {}
    for _, _, uid, _, value in _MAIN_EVENTS:
        c = _cents(value)
        agg = expected.setdefault(uid, [0, 0, c, c])
        agg[0] += 1
        agg[1] += c
        agg[2] = min(agg[2], c)
        agg[3] = max(agg[3], c)
    got = {
        r.user_id: [r.n_events, r.sum_cents, r.min_cents, r.max_cents]
        for r in planted.run(spark, "streaming_rocksdb_state_e2e", main_dir)
    }
    assert got == expected


# --- late data: hash-ordered arrival, batch-k watermark rule ----------------
#
# event_ids 100..127 hash (md5 "late:<id>" % 4) onto all four chunks;
# arrival order is the chunk number, UNCORRELATED with event time, so
# early-timestamped rows genuinely arrive late.  Two anchor events pin
# the watermark high early: id 126 (chunk 0) at 03-03T12:00 forces
# chunk-2 drops, id 119 (chunk 1) at 03-04T06:00 forces chunk-3 drops
# and sets the terminal emission watermark.
def _late_chunk(eid: int, n: int = 4) -> int:
    return int(hashlib.md5(f"late:{eid}".encode()).hexdigest()[:8], 16) % n


_LATE_TS = {
    # chunk 0 (ids 100,103,115,118,120,123,125,126): on-time backbone
    100: "2024-03-01T03:00:00",
    103: "2024-03-01T09:15:00",
    115: "2024-03-02T04:30:00",
    118: "2024-03-02T16:00:00",
    120: "2024-03-03T02:00:00",
    123: "2024-03-03T08:45:00",
    125: "2024-03-01T21:00:00",
    126: "2024-03-03T12:00:00",  # watermark anchor for chunk-2 arrivals
    # chunk 1 (ids 101,102,105,110,112,113,117,119)
    101: "2024-03-01T05:00:00",
    102: "2024-03-01T14:30:00",
    105: "2024-03-02T07:00:00",
    110: "2024-03-02T19:30:00",
    112: "2024-03-03T01:15:00",
    113: "2024-03-03T10:00:00",
    117: "2024-03-01T23:45:00",
    119: "2024-03-04T06:00:00",  # global max: terminal watermark anchor
    # chunk 2 (ids 108,111,116,121,122,124,127): arrive after wm passed
    # 03-03T11:50 — the 03-01/03-02 rows here MUST be dropped
    108: "2024-03-01T06:30:00",
    111: "2024-03-01T18:00:00",
    116: "2024-03-02T11:00:00",
    121: "2024-03-03T15:30:00",
    122: "2024-03-03T20:00:00",
    124: "2024-03-02T22:15:00",
    127: "2024-03-03T05:00:00",
    # chunk 3 (ids 104,106,107,109,114): wm now 03-04T05:50 — every
    # row before 03-04 is late; only a 03-04 row could survive
    104: "2024-03-01T11:00:00",
    106: "2024-03-02T13:45:00",
    107: "2024-03-03T17:00:00",
    109: "2024-03-04T06:30:00",  # within the open 03-04 window: kept
    114: "2024-03-02T02:00:00",
}


_LATE_EVENTS = [
    (eid, ts, 1 + eid % 5, ("click", "view", "purchase")[eid % 3], 0.25 * (1 + eid % 8))
    for eid, ts in sorted(_LATE_TS.items())
]


@pytest.fixture(scope="module")
def late_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("planted_late")
    planted.write(tmp, "events", _LATE_EVENTS)
    return tmp


def test_streaming_late_data_audit_planted(spark, late_dir):
    """streaming_late_data_audit_e2e: a row arriving in batch k is
    dropped iff its 1-day window closed under the watermark built from
    batches <= k-2 (the late filter runs one batch behind eviction);
    surviving rows aggregate per day and a day emits iff its end <=
    max(all ts) - 10 min.  The whole rule is recomputed here
    sequentially from the fixture — md5 chunking, per-batch watermark,
    survivor set, emission — with no Spark and no SQL."""
    by_chunk: dict[int, list[tuple[int, dt.datetime, float]]] = {}
    for eid, ts_iso, _, _, value in _LATE_EVENTS:
        by_chunk.setdefault(_late_chunk(eid), []).append(
            (eid, dt.datetime.fromisoformat(ts_iso), value)
        )
    assert sorted(by_chunk) == [0, 1, 2, 3], "fixture must fill all chunks"

    chunk_max = {k: max(ts for _, ts, _ in rows) for k, rows in by_chunk.items()}
    survivors: list[tuple[dt.datetime, float]] = []
    n_dropped = 0
    for k, rows in by_chunk.items():
        prior = [chunk_max[b] for b in chunk_max if b <= k - 2]
        wm_filter = (max(prior) - dt.timedelta(minutes=10)) if prior else None
        for _, ts, value in rows:
            day_start = ts.replace(hour=0, minute=0, second=0, microsecond=0)
            if wm_filter is None or day_start + dt.timedelta(days=1) > wm_filter:
                survivors.append((ts, value))
            else:
                n_dropped += 1
    assert n_dropped >= 5, "fixture must force real late drops"

    max_ts = max(dt.datetime.fromisoformat(r[1]) for r in _LATE_EVENTS)
    emit_wm = max_ts - dt.timedelta(minutes=10)
    expected: dict[str, list[int]] = {}
    for ts, value in survivors:
        day_start = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        if day_start + dt.timedelta(days=1) > emit_wm:
            continue
        agg = expected.setdefault(day_start.strftime("%Y-%m-%d"), [0, 0])
        agg[0] += 1
        agg[1] += _cents(value)
    assert len(expected) >= 2, "fixture must emit at least two days"

    got = {
        r.day: [r.n_events, r.sum_cents]
        for r in planted.run(spark, "streaming_late_data_audit_e2e", late_dir)
    }
    assert got == expected


def test_streaming_sessionize_planted(spark, main_dir):
    """streaming_sessionize_e2e (applyInPandasWithState, 1h gap): the
    per-event (session_no, event_in_session) labels must equal a
    sequential sessionizer — per user, sorted by (ts, event_id), a new
    session starts when the gap exceeds 3600 s; state must carry across
    micro-batches (u1's sessions span batches 0, 1, 2 and 3)."""
    per_user: dict[int, list[tuple[dt.datetime, int]]] = {}
    for eid, ts_iso, uid, _, _ in _MAIN_EVENTS:
        per_user.setdefault(uid, []).append(
            (dt.datetime.fromisoformat(ts_iso), eid)
        )
    expected = {}
    for uid, evs in per_user.items():
        evs.sort()
        session_no, in_session, prev_ts = 0, 0, None
        for ts, eid in evs:
            if prev_ts is None or (ts - prev_ts).total_seconds() > 3600:
                session_no += 1
                in_session = 0
            in_session += 1
            prev_ts = ts
            expected[(uid, eid)] = (session_no, in_session)
    got = {
        (r.user_id, r.event_id): (r.session_no, r.event_in_session)
        for r in planted.run(spark, "streaming_sessionize_e2e", main_dir)
    }
    assert got == expected
    # fixture strength: u1 has 4 distinct sessions (01:00+01:10 merge,
    # 13:00, next-day 02:00, tail), so both the gap split and the
    # same-session merge are exercised
    u1 = max(s for (uid, _), (s, _) in expected.items() if uid == 1)
    assert u1 == 4


def test_streaming_static_enrich_planted(spark, main_dir):
    """streaming_static_enrich_e2e: stateless per-batch broadcast join —
    every event must carry its user's first_ts_iso and lifetime_events
    from the static profile dim, recomputed here with a plain dict."""
    first_ts: dict[int, dt.datetime] = {}
    lifetime: dict[int, int] = {}
    for _, ts_iso, uid, _, _ in _MAIN_EVENTS:
        ts = dt.datetime.fromisoformat(ts_iso)
        first_ts[uid] = min(first_ts.get(uid, ts), ts)
        lifetime[uid] = lifetime.get(uid, 0) + 1
    expected = {
        eid: (
            uid,
            etype,
            first_ts[uid].strftime("%Y-%m-%dT%H:%M:%S"),
            lifetime[uid],
        )
        for eid, _, uid, etype, _ in _MAIN_EVENTS
    }
    got = {
        r.event_id: (r.user_id, r.event_type, r.first_ts_iso, r.lifetime_events)
        for r in planted.run(spark, "streaming_static_enrich_e2e", main_dir)
    }
    assert got == expected


def test_streaming_state_introspection_planted(spark, main_dir):
    """streaming_state_introspection: the CHECKPOINTED state read back
    through the statestore data source must equal the sequential
    per-user accumulation — the state rows ARE the aggregate."""
    expected: dict[int, list[int]] = {}
    for _, _, uid, _, value in _MAIN_EVENTS:
        agg = expected.setdefault(uid, [0, 0])
        agg[0] += 1
        agg[1] += _cents(value)
    got = {
        r.user_id: [r.n_events, r.sum_cents]
        for r in planted.run(spark, "streaming_state_introspection", main_dir)
    }
    assert got == expected


# --- stream-stream LEFT OUTER interval join ---------------------------------
#
# All on 2024-03-01; ts-ordered chunks (ceil(9/4)=3 per slice).
# max purchase ts 14:00, max click ts 13:00 -> terminal watermark
# min(14:00, 13:00) - 10 min = 12:50.
_JOIN_EVENTS = [
    (0, "2024-03-01T05:00:00", 3, "purchase", 2.00),  # no clicks: null row
    (1, "2024-03-01T08:00:00", 2, "click", 0.25),  # 1.5h before: no match
    (2, "2024-03-01T09:30:00", 2, "purchase", 4.50),  # unmatched: null row
    (3, "2024-03-01T10:00:00", 1, "click", 0.25),  # matches e5
    (4, "2024-03-01T10:15:00", 1, "click", 0.25),  # also matches e5
    (5, "2024-03-01T10:30:00", 1, "purchase", 9.75),  # two matched pairs
    (6, "2024-03-01T10:20:00", 1, "view", 1.00),  # wrong type: never joins
    (7, "2024-03-01T13:00:00", 4, "click", 0.25),  # no purchase for u4
    (8, "2024-03-01T14:00:00", 5, "purchase", 3.25),  # >= wm 12:50: withheld
]


@pytest.fixture(scope="module")
def join_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("planted_join")
    planted.write(tmp, "events", _JOIN_EVENTS)
    return tmp


def test_streaming_outer_join_planted(spark, join_dir):
    """streaming_outer_join_e2e: matched (purchase, click-within-1h)
    pairs all emit; an unmatched purchase null-pads iff its ts is below
    the terminal MIN-policy watermark min(max purchase ts, max click
    ts) - 10 min; later unmatched purchases are withheld. Recomputed
    sequentially: e5 emits twice (two qualifying clicks), e0 and e2
    null-pad, e8 at 14:00 >= the 12:50 watermark must NOT appear."""
    purchases = [
        (eid, dt.datetime.fromisoformat(ts), uid)
        for eid, ts, uid, etype, _ in _JOIN_EVENTS
        if etype == "purchase"
    ]
    clicks = [
        (eid, dt.datetime.fromisoformat(ts), uid)
        for eid, ts, uid, etype, _ in _JOIN_EVENTS
        if etype == "click"
    ]
    wm = min(
        max(ts for _, ts, _ in purchases), max(ts for _, ts, _ in clicks)
    ) - dt.timedelta(minutes=10)
    expected = set()
    for pid, pts, puid in purchases:
        matches = [
            (cid, cts)
            for cid, cts, cuid in clicks
            if cuid == puid and pts - dt.timedelta(hours=1) <= cts <= pts
        ]
        if matches:
            for cid, cts in matches:
                expected.add((puid, pid, cid, pts, cts))
        elif pts < wm:
            expected.add((puid, pid, None, pts, None))
    got = {
        (r.user_id, r.purchase_id, r.click_id, r.purchase_ts, r.click_ts)
        for r in planted.run(spark, "streaming_outer_join_e2e", join_dir)
    }
    assert got == expected
    # fixture strength: at least one multi-match, one null-pad, one
    # withheld purchase, and one non-qualifying same-user click
    assert sum(1 for t in expected if t[1] == 5) == 2
    assert sum(1 for t in expected if t[2] is None) == 2
    assert all(t[1] != 8 for t in expected)
