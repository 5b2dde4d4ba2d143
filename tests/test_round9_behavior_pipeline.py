"""Round-9 behavior tests, batch 4: the flagship disposition pipeline,
the CDC/lookup pair, the wire-format connector, the SQL-dialect surface,
and the map/struct + variant batteries (COVERAGE.md class D -> B; after
this batch every registered batch query is behavior-tested, definitional
D reaches zero).

Third implementations: the full early-return disposition chain
(change-type -> image guard -> already-sent -> first-claim dedup ->
validation -> threshold -> blocklist -> trigger) as a sequential Python
loop over planted tuples with explicit NULL rows for every guard; lag
reconstruction for the CDC diff; bit_length bisection for the scripting
walk; plain dict/json rebuilds for the map/struct/variant batteries; and
the SQL-dialect queries (parameterized, SQL UDF, lateral, pipe, shared
string, GROUP BY ALL) recomputed by loops over the planted TPC-H orders.

This batch's planted rows also caught two real engine bugs during
round 9 (both fixed in the same round): e2's from_json PERMISSIVE
treating valid-JSON/wrong-typed fields as corrupt, and
variant_json_shred's variant_get killing the job with
INVALID_VARIANT_CAST instead of shredding NULL.
"""

from __future__ import annotations

import datetime as dt
import json
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.test_round9_behavior_events import EVENTS, _k_of, _write_events
from tests.test_round9_behavior_tpch import ORDERS, _d, _run, _write_world

# --- the disposition world: one row per guard branch -------------------------------

EVENTS_PIPE = [  # (event_id, ts, user_id, event_type, value, props)
    (1, "2024-04-01 10:00:00", 1, "click", 50.0, '{"k": 5}'),  # triggered normal
    (2, "2024-04-01 10:05:00", 1, "click", 120.0, '{"k": 7}'),  # dup of (1, click)
    (3, "2024-04-01 10:10:00", 1, "view", 200.0, '{"k": 20}'),  # k%10 already sent
    (4, "2024-04-01 10:15:00", 2, "refund", 60.0, '{"k": 1}'),  # bad change type
    (5, "2024-04-01 10:20:00", 2, "purchase", None, '{"k": 2}'),  # null value
    (6, "2024-04-01 10:25:00", 2, "purchase", 150.0, None),  # null props (k=0
    #   would also hit already-sent — the image guard must win, chain order)
    (7, "2024-04-01 10:30:00", 5, "purchase", 0.5, '{"k": 3}'),  # below threshold
    (8, "2024-04-01 10:35:00", 2, "purchase", 100.0, '{"k": 4}'),  # triggered high
    (9, "2024-04-01 10:40:00", 13, "signup", 80.0, '{"k": 6}'),  # 13%13 blocklist
    (10, "2024-04-01 10:45:00", 3, "signup", 99.9, '{"k": 8}'),  # triggered normal
    (11, "2024-04-01 10:50:00", 3, "signup", 130.0, '{"k": 9}'),  # dup of (3, signup)
    (12, "2024-04-01 10:55:00", 13, "view", 30.0, '{"k": 30}'),  # already-sent
    #   fires BEFORE the blocklist for a blocklisted user — chain order
    (13, "2024-04-01 11:00:00", 4, "error", 70.0, '{"k": 11}'),  # bad change type
    (14, "2024-04-01 11:05:00", 4, "view", 110.0, '{"k": 13}'),  # triggered high
    (15, "2024-04-01 11:10:00", None, "purchase", 40.0, '{"k": 14}'),  # null user
    (16, "2024-04-01 11:15:00", 4, None, 20.0, '{"k": 15}'),  # null change type
]

ALLOWED = {"click", "view", "purchase", "signup"}


def _write_events_pipe(tmp) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in EVENTS_PIPE], pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[1]) for r in EVENTS_PIPE],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in EVENTS_PIPE], pa.int64()),
                "event_type": pa.array([r[3] for r in EVENTS_PIPE], pa.string()),
                "value": pa.array([r[4] for r in EVENTS_PIPE], pa.float64()),
                "props": pa.array([r[5] for r in EVENTS_PIPE], pa.string()),
            }
        ),
        str(tmp / "events.parquet"),
    )


def _disposition_chain():
    """Sequential third implementation of the reference's early-return
    chain (index.js:146-302): returns {event_id: (action, priority)}."""
    staged = []
    for eid, ts, uid, etype, value, props in EVENTS_PIPE:
        k = (_k_of(props) if props is not None else None) or 0
        type_ok = etype in ALLOWED  # None fails the allowlist
        image_ok = props is not None and value is not None
        already_sent = k % 10 == 0
        staged.append(
            (eid, ts, uid, etype, value, type_ok, image_ok, already_sent)
        )
    # first-claim dedup among rows that survived the EARLIER stages only
    claims = {}
    for row in sorted(staged, key=lambda r: (r[1], r[0])):  # (ts, event_id)
        eid, _, uid, etype, _, type_ok, image_ok, already_sent = row
        if type_ok and image_ok and not already_sent:
            claims.setdefault((uid, etype), eid)
    out = {}
    for eid, ts, uid, etype, value, type_ok, image_ok, already_sent in staged:
        if not type_ok:
            action = "skipped_change_type"
        elif not image_ok:
            action = "skipped_missing_image"
        elif already_sent:
            action = "skipped_already_sent"
        elif claims[(uid, etype)] != eid:
            action = "duplicate_prevented"
        elif uid is None:
            action = "skipped_invalid"
        elif value < 1.0:
            action = "skipped_below_threshold"
        elif uid % 13 == 0:
            action = "skipped_blocklisted"
        else:
            action = "email_triggered"
        priority = None
        if action == "email_triggered":
            priority = "high" if value >= 100.0 else "normal"
        out[eid] = (action, priority)
    return out


def test_pipeline_disposition_ledger_planted(spark, tmp_path):
    _write_events_pipe(tmp_path)
    got = {r["event_id"]: r for r in _run(spark, "pipeline_disposition_ledger", tmp_path)}
    expected = _disposition_chain()
    assert set(got) == set(expected)
    for eid, (action, priority) in expected.items():
        assert got[eid]["action"] == action, eid
        assert got[eid]["priority"] == priority, eid
    # every branch of the chain fires at least once in the planted world
    assert {a for a, _ in expected.values()} == {
        "skipped_change_type",
        "skipped_missing_image",
        "skipped_already_sent",
        "duplicate_prevented",
        "skipped_invalid",
        "skipped_below_threshold",
        "skipped_blocklisted",
        "email_triggered",
    }
    # chain-order pins: image guard beats already-sent (k defaults to 0
    # on a null image), already-sent beats the blocklist
    assert expected[6][0] == "skipped_missing_image"
    assert expected[12][0] == "skipped_already_sent"


def test_pipeline_disposition_summary_planted(spark, tmp_path):
    _write_events_pipe(tmp_path)
    got = {r["action"]: r for r in _run(spark, "pipeline_disposition_summary", tmp_path)}
    expected = _disposition_chain()
    by_action = defaultdict(lambda: [0, None, set()])
    vals = {r[0]: (r[2], r[4]) for r in EVENTS_PIPE}
    for eid, (action, _) in expected.items():
        uid, value = vals[eid]
        acc = by_action[action]
        acc[0] += 1
        if value is not None:
            acc[1] = value if acc[1] is None else acc[1] + value
        if uid is not None:
            acc[2].add(uid)
    assert set(got) == set(by_action)
    for action, (n, total, users) in by_action.items():
        assert got[action]["n_records"] == n, action
        if total is None:
            assert got[action]["sum_value"] is None
        else:
            assert got[action]["sum_value"] == pytest.approx(total), action
        assert got[action]["n_users"] == len(users), action


# --- CDC old/new diff + state lookup (over the batch-3 events world) ----------------


def test_d2_cdc_old_new_diff_planted(spark, tmp_path):
    _write_events(tmp_path)
    got = {r["event_id"]: r for r in _run(spark, "d2_cdc_old_new_diff", tmp_path)}

    by_user = defaultdict(list)
    for r in EVENTS:
        by_user[r[2]].append(r)
    expected = {}
    for rows in by_user.values():
        prev = None
        for r in sorted(rows, key=lambda r: (r[1], r[0])):  # (ts, event_id)
            k = _k_of(r[5]) or 0
            if prev is None:
                expected[r[0]] = ("INSERT", k, None, None, False)
            else:
                old_k = _k_of(prev[5]) or 0
                expected[r[0]] = (
                    "MODIFY",
                    k,
                    old_k,
                    r[4] - prev[4],
                    k == 0 and old_k > 0,
                )
            prev = r
    assert set(got) == set(expected)
    for eid, (kind, k, old_k, delta, suppressed) in expected.items():
        r = got[eid]
        assert r["change_kind"] == kind, eid
        assert r["k"] == k and r["old_k"] == old_k, eid
        if delta is None:
            assert r["delta_value"] is None
        else:
            assert r["delta_value"] == pytest.approx(delta), eid
        assert r["suppressed"] is suppressed, eid
    # planted: user 1's tied timestamps order by event_id (3 before 4),
    # and event 5 (k=0 after k=7) is the pool-expansion suppression
    assert expected[4][2] == 26 and expected[5][4] is True


def test_d3_state_lookup_routing_planted(spark, tmp_path):
    _write_events(tmp_path)
    got = {r["event_id"]: r["action"] for r in _run(spark, "d3_state_lookup_routing", tmp_path)}
    error_users = {r[2] for r in EVENTS if r[3] == "error"}
    expected = {
        r[0]: "duplicate_prevented" if r[2] in error_users else "proceed"
        for r in EVENTS
        if r[3] == "purchase"
    }
    assert got == expected
    assert set(expected.values()) == {"proceed", "duplicate_prevented"}


# --- wire-format connector (encode -> decode roundtrip) -----------------------------


def test_s1_stream_record_parse_planted(spark, tmp_path):
    _write_events(tmp_path)
    got = {r["record_id"]: r for r in _run(spark, "s1_stream_record_parse", tmp_path)}

    expected_ids = {f"evt-{r[0]}" for r in EVENTS if r[3] != "error"}
    assert set(got) == expected_ids
    for eid, ts, uid, etype, value, props in EVENTS:
        if etype == "error":
            continue
        r = got[f"evt-{eid}"]
        k = _k_of(props) or 0
        assert r["event_name"] == ("INSERT" if etype == "purchase" else "MODIFY")
        assert r["event_id_s"] == str(eid)
        assert r["guest_id"] == str(uid)
        assert r["guest_name"] == f"guest {uid}"
        assert r["guest_email"] == f"u{uid}@example.org"
        assert r["email_sent"] is (k % 7 == 0)
        assert r["delivery_status"] == ("delivered" if k % 5 == 0 else "pending")
        assert r["total_matches"] == k
        assert r["best_similarity"] == pytest.approx(value)
        assert r["processed_at"] == dt.datetime.fromisoformat(ts)
        assert r["top_url"] == f"pool/img-{eid}-1"
        assert r["top_score"] == pytest.approx(round(value, 2))
        assert (r["n_matched"], r["n_stats"]) == (2, 2)
        if etype not in ("purchase", "error"):
            assert r["old_total_matches"] == k - 1
        else:
            assert r["old_total_matches"] is None


# --- map/struct + variant batteries --------------------------------------------------


def test_map_struct_function_battery_planted(spark, tmp_path):
    _write_events(tmp_path)
    got = {r["event_id"]: r for r in _run(spark, "map_struct_function_battery", tmp_path)}
    for eid, _, uid, etype, _, _ in EVENTS:
        if eid >= 2500:
            continue
        r = got[eid]
        assert r["keys_joined"] == "type,uid"
        assert r["vals_joined"] == f"{etype},{uid}"
        assert r["type_val"] == etype
        assert r["absent_val"] is None
        assert r["m_size"] == 2
        assert r["concat_keys"] == "type,uid,extra"
        assert r["struct_json"] == json.dumps(
            {"id": eid, "kind": etype}, separators=(",", ":")
        )
        assert r["struct_field"] == etype


def test_variant_json_shred_planted(spark, tmp_path):
    _write_events(tmp_path)
    got = {r["event_id"]: r for r in _run(spark, "variant_json_shred", tmp_path)}
    for eid, _, _, _, _, props in EVENTS:
        r = got[eid]
        assert r["parsed_ok"] is True  # every planted props is valid JSON
        raw = json.loads(props).get("k")
        if isinstance(raw, int) and not isinstance(raw, bool):
            assert r["k"] == raw and r["k_kind"] == "BIGINT"
        elif isinstance(raw, str):
            # the wrong-typed row: shreds to NULL int + STRING kind
            # (variant_get used to kill the job here — the round-9 fix)
            assert r["k"] is None and r["k_kind"] == "STRING"
        else:
            assert raw is None and r["k"] is None and r["k_kind"] is None
    assert got[7]["k_kind"] == "STRING"  # the regression row stays pinned


# --- SQL-dialect surface over the planted TPC-H orders -------------------------------


@pytest.fixture()
def world(tmp_path):
    _write_world(tmp_path)
    # sql_parameterized_query / sql_udf_temp_function register views for
    # EVERY catalog table — stub the non-relational ones
    _write_events(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1], pa.int64()),
                "text": pa.array(["stub"], pa.string()),
                "lang": pa.array(["en"], pa.string()),
                "source": pa.array(["s"], pa.string()),
                "n_chars": pa.array([4], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([1], pa.int64()),
                "embedding": pa.array([[0.0]], pa.list_(pa.float32())),
                "label": pa.array([0], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    return tmp_path


def _cents(price: float) -> int:
    return round(price * 100)


def test_sql_parameterized_query_planted(spark, world):
    got = _run(spark, "sql_parameterized_query", world)
    groups = defaultdict(lambda: [0, 0])
    for o in ORDERS:
        if _d(o[4]) >= _d("1996-01-01") and o[3] > 1000.0:
            groups[o[5]][0] += 1
            groups[o[5]][1] += _cents(o[3])
    assert [(r["o_orderpriority"], r["n_orders"], r["cents"]) for r in got] == [
        (p, n, c) for p, (n, c) in sorted(groups.items())
    ]
    # the planted 1999 block sits under the price floor -> filtered out
    assert "5-LOW" not in groups


def test_sql_udf_temp_function_planted(spark, world):
    got = _run(spark, "sql_udf_temp_function", world)
    groups = defaultdict(lambda: [0, 0])
    for o in ORDERS:
        cents = _cents(o[3])
        rate = 0 if o[5] in ("1-URGENT", "2-HIGH") else 50
        groups[o[5]][0] += 1
        groups[o[5]][1] += cents - (cents * rate) // 1000  # 5% off non-high
    assert [
        (r["o_orderpriority"], r["n_orders"], r["discounted_cents"]) for r in got
    ] == [(p, n, c) for p, (n, c) in sorted(groups.items())]


def test_sql_lateral_topk_per_customer_planted(spark, world):
    got = _run(spark, "sql_lateral_topk_per_customer", world)
    from tests.test_round9_behavior_tpch import CUSTOMER

    building = {c[0] for c in CUSTOMER if c[4] == "BUILDING"}
    by_cust = defaultdict(list)
    for o in ORDERS:
        if o[1] in building:
            by_cust[o[1]].append(o)
    expected = set()
    for ck, orders in by_cust.items():
        for o in sorted(orders, key=lambda o: (-o[3], o[0]))[:3]:
            expected.add((ck, o[0], _cents(o[3])))
    assert {(r["c_custkey"], r["o_orderkey"], r["cents"]) for r in got} == expected
    assert len(got) == len(expected)
    # planted: customer 5 has 4 orders, so the per-row LIMIT 3 truncates
    assert len(by_cust[5]) > 3 and sum(1 for c, _, _ in expected if c == 5) == 3


def test_sql_pipe_syntax_rollup_planted(spark, world):
    got = _run(spark, "sql_pipe_syntax_rollup", world)
    groups = defaultdict(lambda: [0, 0])
    for o in ORDERS:
        if o[5] == "1-URGENT":
            groups[o[2]][0] += 1
            groups[o[2]][1] += _cents(o[3])
    kept = {s: (n, c) for s, (n, c) in groups.items() if n > 1}
    assert {
        (r["o_orderstatus"], r["n"], r["cents"], r["avg_cents"]) for r in got
    } == {(s, n, c, c // n) for s, (n, c) in kept.items()}
    assert kept  # the pipe WHERE keeps at least one group


def test_sql_api_shared_dialect_planted(spark, world):
    got = {r["o_orderpriority"]: r for r in _run(spark, "sql_api_shared_dialect", world)}
    groups = defaultdict(lambda: [0, 0.0, None, None])
    for o in ORDERS:
        if o[2] != "F":
            continue
        acc = groups[o[5]]
        acc[0] += 1
        acc[1] += o[3]
        d = dt.datetime.fromisoformat(o[4])
        acc[2] = d if acc[2] is None else min(acc[2], d)
        acc[3] = d if acc[3] is None else max(acc[3], d)
    assert set(got) == set(groups)
    for p, (n, total, first, last) in groups.items():
        assert got[p]["n_orders"] == n
        assert got[p]["total_price"] == pytest.approx(total)
        assert got[p]["first_order"] == first
        assert got[p]["last_order"] == last


def test_sql_group_by_all_dialect_planted(spark, world):
    got = _run(spark, "sql_group_by_all_dialect", world)
    groups = defaultdict(lambda: [0, 0])
    for o in ORDERS:
        acc = groups[(o[5], o[2])]
        acc[0] += 1
        acc[1] += _cents(o[3])
    assert [
        (r["o_orderpriority"], r["o_orderstatus"], r["n_orders"], r["revenue_cents"])
        for r in got
    ] == [
        (p, s, n, c)
        for (p, s), (n, c) in sorted(groups.items(), key=lambda kv: kv[0])
    ]


def test_sql_scripting_coverage_walk_planted(spark, world):
    conf_before = dict(spark.conf.getAll)
    got = _run(spark, "sql_scripting_coverage_walk", world)
    # scripting is on by default: the query must not set (or leave
    # behind) any session conf
    assert dict(spark.conf.getAll) == conf_before
    assert len(got) == 1
    bits = sorted(int(o[3]).bit_length() for o in ORDERS)
    total = len(bits)
    k = next(
        k
        for k in range(1, 64)
        if sum(1 for b in bits if b <= k) * 100 >= total * 95
    )
    cov = sum(1 for b in bits if b <= k) / total
    r = got[0]
    assert r["k"] == k
    assert r["threshold"] == pytest.approx(2.0**k)
    assert r["coverage"] == pytest.approx(cov)
    # planted: the 500k order forces the tail, so coverage < 1 at k
    assert cov < 1.0
