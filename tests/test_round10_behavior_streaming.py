"""Round-10 planted batch-twin tests: the LAST 3 streaming-golden rows.

The r9 verdict's item 7: after r9, exactly three registered streaming
queries still rested on golden replay alone (inventory class S) —
``streaming_foreachbatch_sink_e2e``, ``streaming_python_sink_e2e``, and
``streaming_python_source_e2e``. Each has a deterministic batch shadow,
so the r9 device applies: plant a tiny hand-designed events fixture
(production schema) in a tmp sf_dir, run the REGISTERED query
end-to-end (real Structured Streaming: chunked staging, availableNow
replay, state stores, the real foreachBatch / Python DataSource sink or
source), and check the result against a sequential-Python third
implementation of the documented semantics.

What each pin proves beyond the twin-formula oracle:
- foreachbatch sink: the landed JSON envelope files (not the plan)
  contain exactly one email per (user_id, event_type), the global
  (ts, event_id) first — D4 suppression working within a micro-batch
  AND across state, through the epoch-keyed idempotent sink.
- python sink: the same email set through the DataSourceStreamWriter
  two-phase commit — only manifest-listed files are read back.
- python source: every staged wire record crosses the custom
  DataSourceStreamReader exactly once, lands in the chunk its global
  rank demands, REMOVE records (event_type=error) are dropped by F1,
  and the tagged-attr parse applies the parseInt(k ?? '0') defaults.
"""

from __future__ import annotations

import datetime as dt
import json
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_events(tmp, rows):
    """rows: (event_id, ts_iso, user_id, event_type, value, props)."""
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [dt.datetime.fromisoformat(r[1]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([float(r[4]) for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(t, str(tmp / "events.parquet"))


def _run_df(spark, name, sf_dir):
    from dynamodb_stream_processor_2_0_spark.plans import registry

    registry._load()
    return registry.REGISTRY[name].fn(spark, str(sf_dir))


# --- the planted stream ----------------------------------------------------
#
# 10 events, all distinct ts; chunks=4 slices the (ts, event_id)-sorted
# order into ntiles of ceil(10/4)=3:
#   chunk0: e0,e1,e2   chunk1: e3,e4,e5   chunk2: e6,e7,e8   chunk3: e9
# Duplicate (user, type) keys land BOTH within chunk0 (e0/e1) and
# across chunks (e2/e5, e0/e7) — suppression must work within a batch
# and across state. e6 is event_type=error: the wire encode renders it
# as REMOVE (dropped by the source's F1 filter) but the delivery state
# machine still runs on it (first (4, error) occurrence -> email).
_D = "2024-05-01"
_EVENTS = [
    (0, f"{_D}T00:10:00", 1, "click", 1.0, '{"k": 3}'),
    (1, f"{_D}T00:20:00", 1, "click", 2.0, "{}"),
    (2, f"{_D}T00:30:00", 2, "purchase", 3.0, '{"k": 7}'),
    (3, f"{_D}T01:10:00", 3, "view", 4.0, None),
    (4, f"{_D}T01:20:00", 1, "purchase", 5.0, '{"k": "x"}'),
    (5, f"{_D}T01:30:00", 2, "purchase", 6.0, '{"k": 1}'),
    (6, f"{_D}T02:10:00", 4, "error", 7.0, '{"k": 2}'),
    (7, f"{_D}T02:20:00", 1, "click", 8.0, "{}"),
    (8, f"{_D}T02:30:00", 5, "view", 9.0, '{"k": 11}'),
    (9, f"{_D}T03:10:00", 2, "view", 10.0, "{}"),
]
_CHUNKS = 4


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("r10_stream_fixture")
    _write_events(tmp, _EVENTS)
    return tmp


def _expected_emails():
    """Sequential third implementation of the delivery state machine
    (streaming/delivery_state.py semantics): process events in global
    (ts, event_id) order — chunk replay preserves that order, and
    within a micro-batch the operator sorts each key's slice the same
    way — and trigger ONE email for the first occurrence of each
    (user_id, event_type) key, every later attempt suppressed."""
    seen: set[tuple[int, str]] = set()
    out = []
    for eid, _ts, uid, etype, _v, _p in sorted(
        _EVENTS, key=lambda r: (r[1], r[0])
    ):
        key = (uid, etype)
        if key in seen:
            continue
        seen.add(key)
        out.append(
            (
                f"{uid}-{etype.lower()}",
                f"email_{uid}_{eid}",
                eid,
                uid,
                etype,
            )
        )
    return sorted(out)


@pytest.mark.slow
def test_foreachbatch_sink_lands_exactly_one_email_per_key(spark, sf_dir):
    got = sorted(
        (
            r["dedup_id"],
            r["msg_id"],
            r["event_id"],
            r["user_id"],
            r["event_type"],
        )
        for r in _run_df(
            spark, "streaming_foreachbatch_sink_e2e", sf_dir
        ).collect()
    )
    assert got == _expected_emails()
    # and every envelope carries the S3 message type
    types = {
        r["msg_type"]
        for r in _run_df(
            spark, "streaming_foreachbatch_sink_e2e", sf_dir
        ).collect()
    }
    assert types == {"face_match_email"}


def test_python_sink_manifest_commits_the_same_email_set(spark, sf_dir):
    got = sorted(
        (
            r["dedup_id"],
            r["msg_id"],
            r["event_id"],
            r["user_id"],
            r["event_type"],
        )
        for r in _run_df(
            spark, "streaming_python_sink_e2e", sf_dir
        ).collect()
    )
    assert got == _expected_emails()


def _expected_source_rows():
    """Sequential third implementation of the wire replay + parse:
    global (ts, event_id) rank -> chunk ntile of ceil(n/chunks);
    event_type=error renders as REMOVE and is dropped by F1;
    record_id/event_name/guest_id from the tagged image;
    total_matches = parseInt(props.k ?? '0') with non-numeric -> 0."""
    ordered = sorted(_EVENTS, key=lambda r: (r[1], r[0]))
    per = math.ceil(len(ordered) / _CHUNKS)
    out = []
    for rank, (eid, _ts, uid, etype, _v, props) in enumerate(ordered):
        if etype == "error":  # REMOVE on the wire, F1-dropped
            continue
        try:
            k = int(json.loads(props).get("k")) if props else 0
        except (ValueError, TypeError):
            k = 0
        out.append(
            (
                rank // per,
                f"evt-{eid}",
                "INSERT" if etype == "purchase" else "MODIFY",
                str(uid),
                k,
            )
        )
    return sorted(out)


def test_python_source_replays_each_record_once_in_its_chunk(spark, sf_dir):
    got = sorted(
        (
            int(r["chunk"]),
            r["record_id"],
            r["event_name"],
            r["guest_id"],
            r["total_matches"],
        )
        for r in _run_df(
            spark, "streaming_python_source_e2e", sf_dir
        ).collect()
    )
    expected = _expected_source_rows()
    assert got == expected
    # the fixture exercises every parse default: a present k, an empty
    # props, a NULL props, and a non-numeric k — all four must be in
    # the expected set or the pin is weaker than designed
    ks = [row[4] for row in expected]
    assert 3 in ks and 7 in ks and ks.count(0) >= 3
