"""Round-9 behavior tests, batch 3: the pipeline scalar/aggregate family
over a planted events world (COVERAGE.md inventory class D -> B).

Third implementations are plain-Python loops: JSON fields re-extracted
with the stdlib json module, envelopes rebuilt with json.dumps in
struct-field order, percentiles by the shared linear-interpolation
definition (rank = p*(n-1)), the trailing-1h RANGE frame by an explicit
[t-3600, t] scan including ts ties (frame peers), and the email
validation regex via Python re — none of it shared with the Spark plans
or the DuckDB oracles.

The planted events grid covers every branch: allowlisted and rejected
event types, k values divisible by 10 and 13 (F3's drop set), k = 0
(E1's division guard), a wrong-typed '{"k": "x"}' payload (valid JSON,
uncastable field — the row that exposed the round-9 e2 regression where
from_json PERMISSIVE called it corrupt while the reference's JSON.parse
semantics say parsed-with-null), missing-k '{}', two event_ids
divisible by 97 (e2's deterministic manglees), a purchase-free user,
an error-free user, and a timestamp tie inside one user's RANGE frame.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests import planted
from tests.planted import EVENTS


ALLOWED = {"click", "view", "purchase", "signup"}  # index.js:146-153 allowlist


# --- filters ----------------------------------------------------------------------
def test_f1_change_type_filter_planted(spark, events_dir):
    got = planted.run(spark, "f1_change_type_filter", events_dir)
    expected = {r[0]: (r[2], r[3]) for r in EVENTS if r[3] in ALLOWED}
    assert {r["event_id"] for r in got} == set(expected)
    for r in got:
        assert (r["user_id"], r["event_type"]) == expected[r["event_id"]]
    # plant check: both reject reasons present (error and refund rows dropped)
    assert len(expected) == len(EVENTS) - 5


# --- typed parse / key building / routing ------------------------------------------
def test_p1_typed_parse_projection_planted(spark, events_dir):
    got = {r["event_id"]: r for r in planted.run(spark, "p1_typed_parse_projection", events_dir)}
    assert set(got) == {r[0] for r in EVENTS}
    for eid, ts_iso, uid, etype, value, props in EVENTS:
        r = got[eid]
        assert r["user_id"] == uid
        assert r["event_type_norm"] == etype.lower()
        assert r["k"] == (planted.k_of(props) or 0)  # default 0 on missing/uncastable
        assert r["missing_metric"] == 0.0
        assert r["value_dec"] == pytest.approx(round(value, 2))
        assert r["ts_iso"] == dt.datetime.fromisoformat(ts_iso).strftime(
            "%Y-%m-%dT%H:%M:%S"
        )


def test_p5_key_building_planted(spark, events_dir):
    got = {r["event_id"]: r for r in planted.run(spark, "p5_key_building", events_dir)}
    for eid, _, uid, etype, _, _ in EVENTS:
        assert got[eid]["dedup_id"] == f"{uid}-{etype.lower()}"
        assert got[eid]["message_id"] == f"email_{eid}_{uid}"


def test_p10_priority_routing_planted(spark, events_dir):
    got = {r["event_id"]: r for r in planted.run(spark, "p10_priority_routing", events_dir)}
    highs = set()
    for eid, _, _, _, value, _ in EVENTS:
        high = value >= 100.0
        assert got[eid]["priority"] == ("high" if high else "normal")
        assert got[eid]["delay_seconds"] == (0 if high else 5)
        if high:
            highs.add(eid)
    assert highs == {3, 5, 8, 12, 194}  # value == 100.0 sits ON the threshold


# --- aggregates --------------------------------------------------------------------
def test_a2_existence_per_key_planted(spark, events_dir):
    got = {r["user_id"]: r for r in planted.run(spark, "a2_existence_per_key", events_dir)}
    per_user = defaultdict(int)
    for r in EVENTS:
        if r[3] == "purchase":
            per_user[r[2]] += 1
    for uid in {r[2] for r in EVENTS}:
        assert got[uid]["has_purchase"] is (per_user[uid] > 0)
        assert got[uid]["n_purchases"] == per_user[uid]
    assert got[4]["has_purchase"] is False  # the purchase-free user


def test_a3_failure_list_planted(spark, events_dir):
    got = {r["user_id"]: r["failed_ids"] for r in planted.run(spark, "a3_failure_list", events_dir)}
    errs = defaultdict(list)
    for r in EVENTS:
        if r[3] == "error":
            errs[r[2]].append(r[0])
    for uid in {r[2] for r in EVENTS}:
        assert got[uid] == ",".join(str(e) for e in sorted(errs[uid]))
    assert got[1] == "" and got[2] == "6,7"  # error-free user -> empty string


# --- JSON envelopes ----------------------------------------------------------------
def test_p7_nested_document_build_planted(spark, events_dir):
    got = {r["event_id"]: r["email_job"] for r in planted.run(spark, "p7_nested_document_build", events_dir)}
    expected = {}
    for eid, _, uid, etype, value, props in EVENTS:
        if etype not in ALLOWED:
            continue
        doc = {
            "guestInfo": {"userId": uid},
            "matchInfo": {"eventType": etype, "totalK": planted.k_of(props) or 0},
            "jobMetadata": {
                "priority": "high" if value >= 100.0 else "normal",
                "source": "dynamodb_stream_processor_2_0_spark",
            },
        }
        expected[eid] = json.dumps(doc, separators=(",", ":"))
    assert got == expected


def test_p11_envelope_json_planted(spark, events_dir):
    got = {r["event_id"]: r["message_body"] for r in planted.run(spark, "p11_envelope_json", events_dir)}
    expected = {}
    for eid, _, uid, etype, value, _ in EVENTS:
        if etype != "purchase":
            continue
        env = {
            "id": f"email_{eid}_{uid}",
            "type": "email_job",
            "payload": {
                "uid": uid,
                "etype": etype,
                "priority": "high" if value >= 100 else "normal",
            },
            "metadata": {
                "dedup_id": f"{eid}-{uid}",
                "source": "engine",
                "max_retries": 3,
                "retry_delay_ms": 1000,
            },
        }
        expected[eid] = json.dumps(env, separators=(",", ":"))
    assert got == expected


# --- error isolation ---------------------------------------------------------------
def test_e1_error_isolation_planted(spark, events_dir):
    got = {r["event_id"]: r for r in planted.run(spark, "e1_error_isolation", events_dir)}
    zero_k = set()
    for eid, _, uid, _, value, props in EVENTS:
        k = planted.k_of(props) or 0
        r = got[eid]
        if k == 0:
            assert r["value_per_k"] is None
            assert r["error"] == "division_by_zero"
            zero_k.add(eid)
        else:
            assert r["value_per_k"] == pytest.approx(value / k)
            assert r["error"] is None
    # planted: explicit k=0, uncastable k, and missing k all hit the guard
    assert zero_k == {5, 7, 8}


def test_e2_corrupt_record_routing_planted(spark, events_dir):
    got = {r["event_id"]: r for r in planted.run(spark, "e2_corrupt_record_routing", events_dir)}
    for eid, _, uid, _, _, props in EVENTS:
        r = got[eid]
        payload = props[:3] if eid % 97 == 0 else props
        try:
            json.loads(payload)
            valid = True
        except ValueError:
            valid = False
        if valid:
            assert r["disposition"] == "parsed"
            assert r["k"] == planted.k_of(payload)
            assert r["corrupt_payload"] is None
        else:
            assert r["disposition"] == "corrupt"
            assert r["k"] is None
            assert r["corrupt_payload"] == payload
    # the regression row: valid JSON with an uncastable field is PARSED
    assert got[7]["disposition"] == "parsed" and got[7]["k"] is None
    assert {e for e, r in got.items() if r["disposition"] == "corrupt"} == {97, 194}


# --- null-safe join ----------------------------------------------------------------
def test_nullsafe_join_dispositions_planted(spark, events_dir):
    got = {r["k_disp"]: r for r in planted.run(spark, "nullsafe_join_dispositions", events_dir)}
    groups = defaultdict(int)
    for r in EVENTS:
        k = None if r[3] == "error" else r[3]
        groups[k if k is not None else "<null>"] += 1
    assert set(got) == set(groups)
    for disp, n in groups.items():
        assert got[disp]["n_rows"] == n
        assert got[disp]["n_dim"] == n  # the dim side counts the same rows
        assert got[disp]["n_values"] == n  # value is never NULL here
    assert got["<null>"]["n_rows"] == 3  # NULL keys matched, not dropped


def test_agg_value_percentiles_planted(spark, events_dir):
    got = {r["event_type"]: r for r in planted.run(spark, "agg_value_percentiles", events_dir)}
    by_type = defaultdict(list)
    for r in EVENTS:
        by_type[r[3]].append(r[4])
    assert set(got) == set(by_type)
    for etype, vals in by_type.items():
        assert got[etype]["p50"] == pytest.approx(planted.quantile_cont(vals, 0.5))
        assert got[etype]["p90"] == pytest.approx(planted.quantile_cont(vals, 0.9))
        assert got[etype]["p99"] == pytest.approx(planted.quantile_cont(vals, 0.99))
        assert got[etype]["n"] == len(vals)


def test_agg_exact_percentiles_planted(spark, events_dir):
    got = planted.run(spark, "agg_exact_percentiles", events_dir)
    by_type = defaultdict(list)
    for r in EVENTS:
        by_type[r[3]].append(r[4])
    assert [r["event_type"] for r in got] == sorted(by_type)
    for r in got:
        vals = by_type[r["event_type"]]
        for col, p in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75)):
            assert r[col] == pytest.approx(planted.quantile_cont(vals, p)), (
                r["event_type"],
                col,
            )
        assert r["n_values"] == len(vals)


# --- RANGE-frame moving sum --------------------------------------------------------
def test_window_range_frame_moving_sum_planted(spark, events_dir):
    got = planted.run(spark, "window_range_frame_moving_sum", events_dir)

    epoch = lambda s: int(  # noqa: E731
        dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc).timestamp()
    )
    expected = {}
    by_user = defaultdict(list)
    for r in EVENTS:
        by_user[r[2]].append(r)
    for uid, rows in by_user.items():
        for eid, ts, _, _, value, _ in rows:
            t = epoch(ts)
            cents = n = 0
            for _, ts2, _, _, v2, _ in rows:  # peers at equal ts included
                if t - 3600 <= epoch(ts2) <= t:
                    cents += round(v2 * 100)
                    n += 1
            expected[eid] = (cents, n)
    assert [r["event_id"] for r in got] == [
        e for _, e in sorted((r["user_id"], r["event_id"]) for r in got)
    ]
    assert len(got) == len(EVENTS)
    for r in got:
        cents, n = expected[r["event_id"]]
        assert (r["trailing_1h_cents"], r["trailing_1h_events"]) == (cents, n), r
    # planted tie: events 3 and 4 share a timestamp, so each sees the other
    assert expected[3] == expected[4] and expected[3][1] == 3


# --- email validation over a planted customer table --------------------------------
CUSTOMERS_F8 = [  # (c_custkey, c_name) — keys chosen to hit every CASE branch
    (3, "Cust Three"),  # default: cust.three@corp.example.org (valid, clean)
    (5, "Cust Five"),  # %5: user5@test.com (valid, blocklisted domain)
    (13, "Cust Thirteen"),  # %13: unknown@host13.org (valid, blocklisted prefix)
    (17, "Cust Seventeen"),  # %17: 'bad email at' (invalid)
    (65, "Cust SixtyFive"),  # %13 wins over %5 (CASE order)
    (85, "Cust EightyFive"),  # %17 wins over %5 (CASE order)
    (7, "Weird Name Here"),  # default with two spaces -> two dots
]


def test_f8_email_validation_planted(spark, tmp_path):
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([c[0] for c in CUSTOMERS_F8], pa.int64()),
                "c_name": pa.array([c[1] for c in CUSTOMERS_F8], pa.string()),
                "c_nationkey": pa.array([1] * len(CUSTOMERS_F8), pa.int32()),
                "c_acctbal": pa.array([10.0] * len(CUSTOMERS_F8), pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"] * len(CUSTOMERS_F8), pa.string()),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    got = {r["c_custkey"]: r for r in planted.run(spark, "f8_email_validation", tmp_path)}

    for ck, name in CUSTOMERS_F8:
        if ck % 17 == 0:
            email = "bad email at"
        elif ck % 13 == 0:
            email = f"unknown@host{ck}.org"
        elif ck % 5 == 0:
            email = f"user{ck}@test.com"
        else:
            email = name.lower().replace(" ", ".") + "@corp.example.org"
        valid = re.match(r"^[^\s@]+@[^\s@]+\.[^\s@]+$", email) is not None
        low = email.lower()
        blocked = (
            "example.com" in low or "test.com" in low or low.startswith("unknown@")
        )
        r = got[ck]
        assert r["email"] == email, ck
        assert r["is_valid"] is valid, ck
        assert r["is_blocklisted"] is blocked, ck
    # corp.example.org does NOT contain 'example.com' -> clean
    assert got[3]["is_valid"] and not got[3]["is_blocklisted"]
    assert got[65]["email"] == "unknown@host65.org"  # %13 beat %5
    assert got[85]["email"] == "bad email at"  # %17 beat %5


# --- array transform/slice over planted documents -----------------------------------
def test_p8_array_transform_slice_planted(spark, tmp_path):
    docs = [
        (1, "the quick brown fox jumps over lazy dog"),
        (2, "hello  world"),  # double space -> empty token survives the split
        (3, "one"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["s"] * 3, pa.string()),
                "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {r["doc_id"]: r for r in planted.run(spark, "p8_array_transform_slice", tmp_path)}
    for doc_id, text in docs:
        tokens = text.split(" ")  # single-space split keeps empty tokens
        assert got[doc_id]["top_tokens"] == "|".join(t.upper() for t in tokens[:5])
        assert got[doc_id]["n_tokens"] == len(tokens)
    assert got[2]["top_tokens"] == "HELLO||WORLD"
