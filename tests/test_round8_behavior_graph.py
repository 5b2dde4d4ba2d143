"""Round-8 behavior tests, batch 3: graph / windows / data-ops /
fingerprints / ANN-variant families (COVERAGE.md inventory class G).

Third implementations used here: sequential BFS / synchronous LPA /
greedy MMR / sweep-line sessionization / O(n^2) band-join loops in
plain Python, hashlib for every md5-derived fingerprint (SimHash,
pseudonymization tokens), `re` for the BPE/PII regexes, and
Wagner-Fischer for Levenshtein — none of which share code with the
Spark plan or the DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import re

from tests import planted


def _write_part(tmp, names):
    planted.write(
        tmp, "part", [(i, n, "B", "T", 1, 1.0) for i, n in enumerate(names, 1)]
    )


# --- window / temporal batch twins --------------------------------------------
def test_sliding_window_event_in_exactly_two_windows(spark, tmp_path):
    rows = [
        (1, "2024-05-02T10:00:00", 1, "view", 1.25),
        (2, "2024-05-02T11:00:00", 2, "view", 2.00),
        (3, "2024-05-03T10:00:00", 1, "view", 4.00),
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["win_start"].date().isoformat(): r
           for r in planted.run(spark, "window_sliding_2d_1d", tmp_path)}
    # event on day D lands in windows starting D-1 and D
    assert set(out) == {"2024-05-01", "2024-05-02", "2024-05-03"}
    assert out["2024-05-01"]["n_events"] == 2          # the two May-2 events
    assert out["2024-05-02"]["n_events"] == 3          # all three
    assert out["2024-05-02"]["n_users"] == 2
    assert out["2024-05-02"]["sum_value"] == 7.25
    assert out["2024-05-03"]["n_events"] == 1
    # every event counted exactly twice across all windows
    assert sum(r["n_events"] for r in out.values()) == 2 * len(rows)


def test_hypertable_rollup_daily_equals_sum_of_hourly(spark, tmp_path):
    rows = [
        (1, "2024-05-02T10:15:00", 1, "view", 1.10),
        (2, "2024-05-02T10:45:00", 2, "view", 2.20),
        (3, "2024-05-02T13:00:00", 3, "view", 4.00),
        (4, "2024-05-03T01:00:00", 4, "view", 8.00),
    ]
    planted.write(tmp_path, "events", rows)
    out = planted.run(spark, "hypertable_rollup", tmp_path)
    hourly = {r["bucket"].isoformat(): r for r in out if r["resolution"] == "hour"}
    daily = {r["bucket"].date().isoformat(): r for r in out if r["resolution"] == "day"}
    assert hourly["2024-05-02T10:00:00"]["n_events"] == 2
    assert abs(hourly["2024-05-02T10:00:00"]["sum_value"] - 3.30) < 1e-9
    assert hourly["2024-05-02T13:00:00"]["n_events"] == 1
    assert daily["2024-05-02"]["n_events"] == 3
    assert abs(daily["2024-05-02"]["sum_value"] - 7.30) < 1e-9
    assert daily["2024-05-03"]["n_events"] == 1
    # re-aggregation consistency: day == sum of its hours
    for day, r in daily.items():
        hsum = sum(h["n_events"] for k, h in hourly.items() if k.startswith(day))
        assert r["n_events"] == hsum, day


def _sessions_sweep_line(events):
    """events: [(ts_seconds, gap_seconds, value)] for ONE user, any
    order. Returns [(start_s, end_s, n, sum_value)] by the interval-
    union rule: a session breaks when ts > running max of (ts+gap)."""
    evs = sorted(events)
    sessions = []
    cur = None
    for ts, gap, v in evs:
        if cur is None or ts > cur[1]:
            if cur is not None:
                sessions.append(cur)
            cur = [ts, ts + gap, 1, v]
        else:
            cur[1] = max(cur[1], ts + gap)
            cur[2] += 1
            cur[3] += v
    if cur is not None:
        sessions.append(cur)
    return [tuple(s) for s in sessions]


def test_session_window_dynamic_gap_sweep_line(spark, tmp_path):
    t0 = dt.datetime.fromisoformat("2024-05-01T00:00:00")
    gap_of = {"purchase": 2 * 3600, "click": 6 * 3600, "view": 12 * 3600}
    # user 7: purchase (2h gap) then an event 3h later -> NEW session;
    # then click (6h gap) then an event 5h later -> SAME session
    plan = [
        (0, "purchase", 1.0),
        (3 * 3600, "click", 2.0),           # 3h > 2h gap -> new session
        (8 * 3600, "view", 4.0),            # 5h later <= 6h click gap -> merges
        (30 * 3600, "view", 8.0),           # far away -> third session
    ]
    rows = [
        (i, (t0 + dt.timedelta(seconds=s)).isoformat(), 7, et, v)
        for i, (s, et, v) in enumerate(plan)
    ]
    planted.write(tmp_path, "events", rows)
    out = sorted(
        (r for r in planted.run(spark, "session_window_dynamic_gap", tmp_path)
         if r["user_id"] == 7),
        key=lambda r: r["session_start"],
    )
    expected = _sessions_sweep_line(
        [(s, gap_of[et], v) for s, et, v in plan]
    )
    assert len(out) == len(expected) == 3
    for r, (start_s, end_s, n, sv) in zip(out, expected):
        assert r["session_start"] == t0 + dt.timedelta(seconds=start_s)
        assert r["session_end"] == t0 + dt.timedelta(seconds=end_s)
        assert r["n_events"] == n
        assert abs(r["sum_value"] - sv) < 1e-9


def test_range_join_neighbor_counts_quadratic_oracle(spark, tmp_path):
    t0 = dt.datetime.fromisoformat("2024-05-01T00:00:00")
    # user 7 at offsets chosen to straddle the 3600s boundary
    offs = {1: 0, 2: 3600, 3: 3601, 4: 7200}
    rows = [(eid, (t0 + dt.timedelta(seconds=s)).isoformat(), 7, "view", 1.0)
            for eid, s in offs.items()]
    rows.append((9, t0.isoformat(), 8, "view", 1.0))  # other user: no cross pairs
    planted.write(tmp_path, "events", rows)
    out = {r["a_id"]: r["n_neighbors"]
           for r in planted.run(spark, "range_join_event_neighbors", tmp_path)
           if r["user_id"] == 7}
    expected = {}
    for a, sa in offs.items():
        n = sum(1 for b, sb in offs.items() if b != a and abs(sb - sa) <= 3600)
        if n:
            expected[a] = n
    # 1<->2 inclusive at exactly 3600; 1<->3 exclusive at 3601;
    # 2<->3 1s apart; 2<->4 inclusive at 3600; 3<->4 3599s apart
    assert expected == {1: 1, 2: 3, 3: 2, 4: 2}
    assert out == expected


def test_cohort_ltv_hand_rollup(spark, tmp_path):
    # 2024-01-01 and 2024-01-08 are Mondays (week-truncation anchors)
    rows = [
        # user 1: first seen week W0, active W0 and W2
        (1, "2024-01-02T10:00:00", 1, "purchase", 10.00),
        (2, "2024-01-16T10:00:00", 1, "purchase", 5.00),
        # user 2: cohort W0, active W0 only (two events same week)
        (3, "2024-01-03T10:00:00", 2, "view", 1.00),
        (4, "2024-01-04T10:00:00", 2, "view", 2.00),
        # user 3: cohort W1
        (5, "2024-01-09T10:00:00", 3, "purchase", 8.00),
    ]
    planted.write(tmp_path, "events", rows)
    out = {(r["cohort_week"], r["age_weeks"]): r
           for r in planted.run(spark, "events_cohort_ltv", tmp_path)}
    w0 = out[("2024-01-01", 0)]
    assert w0["n_active_users"] == 2
    assert w0["revenue_cents"] == 1300          # 10.00 + 1.00 + 2.00
    assert w0["cum_revenue_cents"] == 1300
    w0a2 = out[("2024-01-01", 2)]
    assert w0a2["n_active_users"] == 1 and w0a2["revenue_cents"] == 500
    assert w0a2["cum_revenue_cents"] == 1800    # lifetime-to-date
    w1 = out[("2024-01-08", 0)]
    assert w1["n_active_users"] == 1 and w1["revenue_cents"] == 800


# --- graph family ---------------------------------------------------------------
def test_bfs_depth_census_sequential(spark, tmp_path):
    # purchase graph: seeds are SUPPLIERS 1 and 2 (node ids 3 and 5).
    # s1 - c1, s1 - c2, c2 - s5, s2 - c3; c9 - s7 is disconnected.
    edges = [(1, 1), (2, 1), (2, 5), (3, 2), (9, 7)]
    planted.purchase_graph(tmp_path, edges)
    out = {r["depth"]: r for r in planted.run(spark, "graph_shortest_path_bfs", tmp_path)}

    # sequential BFS on the same encoding (customer 2k, supplier 2k+1)
    adj: dict[int, set] = {}
    for c, s in edges:
        u, v = c * 2, s * 2 + 1
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    dist = {3: 0, 5: 0}
    frontier = [3, 5]
    for d in range(1, 5):
        nxt = sorted({w for u in frontier for w in adj.get(u, ())
                      if w not in dist})
        for w in nxt:
            dist[w] = d
        frontier = nxt
    by_depth: dict[int, list] = {}
    for node, d in dist.items():
        by_depth.setdefault(d, []).append(node)
    unreached = [n for n in adj if n not in dist]
    for d, nodes in by_depth.items():
        assert out[d]["n_nodes"] == len(nodes), d
        assert out[d]["sum_node_key"] == sum(n // 2 for n in nodes), d
    assert out[-1]["n_nodes"] == len(unreached)
    assert out[-1]["sum_node_key"] == sum(n // 2 for n in unreached)
    # hand check: depth1 = {c1(2), c2(4), c3(6)}, depth2 = {s5(11)},
    # unreached = {c9(18), s7(15)}
    assert out[1]["n_nodes"] == 3 and out[1]["sum_node_key"] == 1 + 2 + 3
    assert out[2]["n_nodes"] == 1 and out[2]["sum_node_key"] == 5
    assert out[-1]["n_nodes"] == 2 and out[-1]["sum_node_key"] == 9 + 7


def test_lpa_sync_mode_vote_sequential(spark, tmp_path):
    # two near-cliques bridged by one edge
    edges = [(1, 1), (1, 2), (2, 1), (2, 2),      # community A: c1,c2,s1,s2
             (3, 3), (3, 4), (4, 3), (4, 4),      # community B: c3,c4,s3,s4
             (2, 3)]                               # bridge
    planted.purchase_graph(tmp_path, edges)
    out = {r["community"]: r for r in planted.run(spark, "graph_label_propagation", tmp_path)}

    adj: dict[int, set] = {}
    for c, s in edges:
        u, v = c * 2, s * 2 + 1
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n in adj:
            votes: dict[int, int] = {}
            for nb in adj[n]:
                votes[labels[nb]] = votes.get(labels[nb], 0) + 1
            new[n] = min(
                (lab for lab in votes
                 if votes[lab] == max(votes.values()))
            )
        labels = new
    expected: dict[int, list] = {}
    for n, lab in labels.items():
        expected.setdefault(lab, []).append(n)
    assert {c: r["n_members"] for c, r in out.items()} == {
        lab: len(m) for lab, m in expected.items()
    }
    for lab, members in expected.items():
        assert out[lab]["sum_member_key"] == sum(n // 2 for n in members)


def test_node_jaccard_hand_sets(spark, tmp_path):
    # supplier customer-sets: s1 {1,2,3}, s2 {2,3}, s3 {9}
    edges = [(1, 1), (2, 1), (3, 1), (2, 2), (3, 2), (9, 3)]
    planted.purchase_graph(tmp_path, edges)
    out = planted.run(spark, "graph_node_jaccard_similarity", tmp_path)
    rows = {(r["s1"], r["s2"]): r for r in out}
    # only s1,s2 share customers: |inter|=2, |union|=3 -> 666 permille
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r["shared_customers"] == 2
    assert r["jaccard_permille"] == 2 * 1000 // 3


# --- data-ops / quality -----------------------------------------------------------
def test_data_quality_profile_planted_defects(spark, tmp_path):
    rows = [
        (1, "2024-01-01T10:00:00", 1, "view", 5.0, "{}"),
        (2, "2024-01-01T10:00:00", None, "view", -2.0, '{"k": 1}'),  # null user, negative
        (3, "2024-01-01T10:00:00", 2, "view", None, "not json"),     # null value, corrupt
        (4, "2024-01-01T10:00:00", 3, "click", 1.0, ""),             # empty props: not corrupt
    ]
    planted.write(tmp_path, "events", rows)
    out = {r["event_type"]: r for r in planted.run(spark, "data_quality_profile", tmp_path)}
    v = out["view"]
    assert v["n_rows"] == 3
    assert v["null_users"] == 1 and v["null_values"] == 1
    assert (v["min_value"], v["max_value"]) == (-2.0, 5.0)
    assert v["n_negative"] == 1
    assert v["n_corrupt_json"] == 1
    c = out["click"]
    assert c["n_rows"] == 1 and c["n_corrupt_json"] == 0


def test_drift_chisquare_identical_halves_zero(spark, tmp_path):
    # identical value histograms on even and odd day indices -> chi2 = 0;
    # day parity is vs 1992-01-01, so 2024-01-01 (day 11688) is EVEN
    rows = []
    eid = 0
    for day, half in (("2024-01-01", 0), ("2024-01-02", 1)):
        for v in (10.0, 10.0, 60.0, 120.0):
            rows.append((eid, f"{day}T10:00:00", 1, "view", v))
            eid += 1
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "drift_chisquare_by_type", tmp_path)
    assert r["event_type"] == "view"
    assert r["n_buckets"] == 3          # buckets 0 (10s), 1 (60), 2 (120)
    assert r["chi2"] == 0.0

    # now shift the odd half entirely into bucket 9 -> recompute by hand
    rows2 = []
    eid = 0
    for v in (10.0, 10.0):
        rows2.append((eid, "2024-01-01T10:00:00", 1, "view", v)); eid += 1
    for v in (999.0, 999.0):
        rows2.append((eid, "2024-01-02T10:00:00", 1, "view", v)); eid += 1
    planted.write(tmp_path, "events", rows2)
    (r2,) = planted.run(spark, "drift_chisquare_by_type", tmp_path)
    # buckets: b0 (n1=2, n2=0), b9 (n1=0, n2=2); s1=s2=2
    # b0 term: (0*2 - 2*2)^2 / (2*2*2) = 16/8 = 2.0; b9: n1=0 -> 0
    assert r2["n_buckets"] == 2
    assert abs(r2["chi2"] - 2.0) < 1e-8


def test_pii_pseudonymize_tokens_and_rollup(spark, tmp_path):
    planted.write(tmp_path, "customer", [
            (1, "Alice", 3, 0.0, "SEG"),
            (2, "Bob", 3, 0.0, "SEG"),     # same nation -> same geo token
            (3, "Alice", 5, 0.0, "OTHER"),  # same name -> same name token
        ])
    planted.write(tmp_path, "orders", [
            (1, 1, "F", 10.00, "2024-01-01T00:00:00", "X"),
            (2, 1, "F", 5.00, "2024-01-02T00:00:00", "X"),
            (3, 2, "F", 7.00, "2024-01-03T00:00:00", "X"),
            # customer 3: no orders -> zero row survives the left join
        ])
    out = planted.run(spark, "pii_pseudonymize_consistent", tmp_path)
    tok = lambda name: "cust_" + planted.md5(f"name:{name}")[:12]  # noqa: E731
    geo = lambda n: "geo_" + planted.md5(f"nation:{n}")[:8]        # noqa: E731
    rows = {(r["name_token"], r["geo_token"]): r for r in out}
    a = rows[(tok("Alice"), geo(3))]
    assert a["n_orders"] == 2 and a["revenue_cents"] == 1500
    b = rows[(tok("Bob"), geo(3))]
    assert b["n_orders"] == 1 and b["revenue_cents"] == 700
    c = rows[(tok("Alice"), geo(5))]
    assert c["n_orders"] == 0 and c["revenue_cents"] == 0
    # consistency axioms: same identity -> same token; tokens never
    # collide across distinct identities in the fixture
    assert a["name_token"] == c["name_token"]
    assert a["geo_token"] == b["geo_token"] != c["geo_token"]


def test_data_contract_planted_violations(spark, tmp_path):
    planted.write(tmp_path, "customer", [(1, "a", 0, 0.0, "SEG")])
    planted.write(tmp_path, "orders", [
            (1, 1, "F", 10.00, "1995-01-01T00:00:00", "X"),
            (1, 1, "O", 20.00, "1995-01-02T00:00:00", "X"),   # dup orderkey
            (2, 99, "F", -5.00, "1990-01-01T00:00:00", "X"),  # neg price, date
                                                              # out of range, bad FK
            (3, 1, "Z", 1.00, "1995-01-03T00:00:00", "X"),    # bad status
        ])
    rows = {r["rule_id"]: r for r in planted.run(spark, "data_contract_check", tmp_path)}
    assert rows["o_totalprice_positive"]["n_violations"] == 1
    assert rows["o_orderdate_in_range"]["n_violations"] == 1
    assert rows["o_orderstatus_in_domain"]["n_violations"] == 1
    assert rows["o_custkey_fk_resolves"]["n_violations"] == 1
    assert rows["o_orderkey_unique"]["n_violations"] == 1
    assert all(not r["passed"] for r in rows.values())
    assert all(r["n_checked"] == 4 for r in rows.values())


# --- fingerprints / fuzzy ----------------------------------------------------------
def _simhash32(text: str) -> int:
    votes = [0] * 32
    for tok in text.split(" "):
        tv = int(planted.md5(tok)[:8], 16)
        for b in range(32):
            votes[b] += 1 if (tv >> b) & 1 else -1
    return sum(1 << b for b in range(32) if votes[b] > 0)


def test_simhash_hashlib_recomputation(spark, tmp_path):
    docs = [
        (1, "alpha beta gamma", "en", "s"),
        (2, "alpha beta gamma", "en", "s"),
        (3, "totally different words", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r["simhash"] for r in planted.run(spark, "dedup_simhash", tmp_path)}
    for d, text, _, _ in docs:
        assert rows[d] == _simhash32(text), d
    assert rows[1] == rows[2]


def test_simhash_hamming_pairs_threshold(spark, tmp_path):
    # identical docs -> hamming 0 pair; a far doc joins only if its
    # fingerprint is within hamming 3 (verified against hashlib)
    docs = [
        (1, "alpha beta gamma delta", "en", "s"),
        (2, "alpha beta gamma delta", "en", "s"),
        (3, "completely unrelated text tokens", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    out = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in planted.run(spark, "dedup_simhash_hamming_pairs", tmp_path)}
    assert out[(1, 2)] == 0
    f1, f3 = _simhash32(docs[0][1]), _simhash32(docs[2][1])
    ham13 = bin(f1 ^ f3).count("1")
    if ham13 > 3:
        assert (1, 3) not in out
    else:  # deterministic either way — assert consistency with hashlib
        assert out.get((1, 3)) == ham13


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_match_blocked_levenshtein_hand_distances(spark, tmp_path):
    # block key = second word of p_name
    names = [
        "small widget red",
        "smell widget red",     # dist 1 from the above, same block
        "small widget blue",    # dist 4 from "small widget red" (red->blue)
        "tiny gadget red",      # different block: never compared
        "smoll gadget red",
    ]
    _write_part(tmp_path, names)
    out = {(r["name_a"], r["name_b"]): r
           for r in planted.run(spark, "fuzzy_match_blocked_levenshtein", tmp_path)}
    widget = [n for n in names if n.split(" ")[1] == "widget"]
    expected = {}
    for a in widget:
        for b in widget:
            if a < b and _levenshtein(a, b) <= 4:
                expected[(a, b)] = _levenshtein(a, b)
    # the gadget block pairs iff its two names are within distance 4 —
    # recomputed honestly rather than assumed
    gadget = sorted(n for n in names if n.split(" ")[1] == "gadget")
    d = _levenshtein(gadget[0], gadget[1])
    if d <= 4:
        expected[(gadget[0], gadget[1])] = d
    assert {k: r["edit_dist"] for k, r in out.items()} == expected
    assert all(r["block"] == r["name_a"].split(" ")[1] for r in out.values())


def test_survivorship_canonical_tiebreak_and_singletons(spark, tmp_path):
    docs = (
        [(i, "alpha beta gamma delta epsilon", "en", "s") for i in (4, 2, 7)]
        + [(9, "unique standalone document text", "en", "s")]
    )
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in
            planted.run(spark, "dedup_survivorship_canonical", tmp_path)}
    # the 3 identical docs: equal n_chars -> smallest doc_id canonical
    for d in (4, 2, 7):
        assert rows[d]["cluster_n"] == 3
        assert rows[d]["canonical_doc_id"] == 2
        assert rows[d]["is_canonical"] == (d == 2)
    # singleton: its own cluster, canonical by definition
    assert rows[9]["cluster_n"] == 1 and rows[9]["is_canonical"]
    assert rows[9]["cluster_id"] == 9 and rows[9]["canonical_doc_id"] == 9


# --- text regex ops ------------------------------------------------------------------
def test_bpe_token_count_python_re(spark, tmp_path):
    from dynamodb_stream_processor_2_0_spark.plans.queries_text import (
        _BPE_PATTERN,
    )

    docs = [
        (1, "Hello world 123 foo-bar!", "en", "s"),
        (2, "a", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "text_bpe_token_count", tmp_path)}
    for d, text, _, _ in docs:
        n_bpe = len(re.findall(_BPE_PATTERN, text))
        n_ws = len(text.split(" "))
        assert rows[d]["n_bpe_tokens"] == n_bpe, d
        assert rows[d]["n_ws_tokens"] == n_ws
        assert abs(rows[d]["bpe_per_word"] - n_bpe / max(n_ws, 1)) < 1e-12


def test_pii_redaction_python_re(spark, tmp_path):
    from dynamodb_stream_processor_2_0_spark.plans.queries_text import (
        _EMAIL_PAT,
        _PHONE_PAT,
    )

    docs = [
        (1, "reach me at bob.smith@corp.example.org now", "en", "s"),
        (2, "call 999-888-7777 or 111-222-3333", "en", "s"),
    ]
    planted.write(tmp_path, "documents", docs)
    rows = {r["doc_id"]: r for r in planted.run(spark, "text_pii_redaction", tmp_path)}
    for d, text, _, _ in docs:
        raw = f"contact u{d}@mail.example.com or 555-123-4567 {text}"
        n_emails = len(re.findall(_EMAIL_PAT, raw))
        n_phones = len(re.findall(_PHONE_PAT, raw))
        redacted = re.sub(_PHONE_PAT, "[PHONE]", re.sub(_EMAIL_PAT, "[EMAIL]", raw))
        assert rows[d]["n_emails"] == n_emails, d
        assert rows[d]["n_phones"] == n_phones, d
        assert rows[d]["redacted_md5"] == planted.md5(redacted), d
    assert rows[1]["n_emails"] == 2    # injected + planted
    assert rows[2]["n_phones"] == 3


# --- ANN variants ---------------------------------------------------------------------
def test_int8_quant_topk_integer_dot(spark, tmp_path):
    vecs = [
        (1, [1.0, 0.5, 0.0, 0.0], 0),    # query
        (10, [1.0, 1.0, 0.0, 0.0], 0),
        (11, [0.5, 0.0, 0.0, 0.0], 0),
        (12, [0.0, 0.0, 1.0, 0.0], 0),
        (13, [-1.0, 0.0, 0.0, 0.0], 0),
    ]
    planted.write(tmp_path, "embeddings", vecs)
    out = sorted((r for r in planted.run(spark, "embedding_int8_quant_topk", tmp_path)
                  if r["query_id"] == 1), key=lambda r: r["rank"])

    def quant(v):
        m = max(max(abs(x) for x in v), 1e-30)
        return [round(x * 127.0 / m) for x in v]

    q = quant([1.0, 0.5, 0.0, 0.0])
    scores = {}
    for vid, v, _ in vecs:
        if vid == 1:
            continue
        scores[vid] = sum(a * b for a, b in zip(q, quant(v)))
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [(r["neighbor_id"], r["qdot"]) for r in out] == expected


def test_binary_hamming_topk_sign_pack(spark, tmp_path):
    import itertools

    base = [1.0] * 64
    flip3 = list(base)
    for i in (0, 5, 40):
        flip3[i] = -1.0
    flip10 = list(base)
    for i in range(10, 20):
        flip10[i] = -1.0
    zeros5 = list(base)
    for i in (1, 2, 3, 33, 34):
        zeros5[i] = 0.0   # zero is NOT > 0 -> bit clears, distance 5
    vecs = [(1, base, 0), (10, flip3, 0), (11, flip10, 0), (12, zeros5, 0)]
    planted.write(tmp_path, "embeddings", vecs)
    out = sorted((r for r in planted.run(spark, "embedding_binary_hamming_topk", tmp_path)
                  if r["query_id"] == 1), key=lambda r: r["rank"])

    def pack(v):
        return sum(1 << i for i in range(64) if v[i] > 0)

    ham = {vid: bin(pack(base) ^ pack(v)).count("1")
           for vid, v, _ in vecs if vid != 1}
    expected = sorted(ham.items(), key=lambda kv: (kv[1], kv[0]))
    assert [(r["neighbor_id"], r["hamming"]) for r in out] == expected
    assert ham == {10: 3, 11: 10, 12: 5}
    assert itertools  # keep the import honest if asserts change


def test_mmr_greedy_sequential(spark, tmp_path):
    """Geometry chosen so the diversity penalty actually reorders: with
    lambda = 0.5 a near-dup of an already-picked result scores
    rel - 0.5*~1, so a TIGHT cluster sitting OFF the query (rel ~0.9,
    mutual sims ~1) loses pick 2 to a moderately-relevant candidate on
    the other side (rel ~0.85, cross-sim ~0.54) — the property a
    plain relevance ranking cannot produce."""
    import math
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    def v(angle, pad=4):
        out = [math.cos(angle), math.sin(angle)] + [0.0] * (pad - 2)
        return [f32(x) for x in out]  # float32 round-trip: what parquet stores

    cands = {
        10: v(0.450),   # the off-query cluster (rel ~0.900)
        11: v(0.452),
        12: v(0.455),
        13: v(-0.550),  # diverse: rel ~0.853, cross-sim to cluster ~0.54
        14: v(-1.400),  # low relevance
    }
    vecs = [(1, v(0.0), 0)] + [(vid, vv, 0) for vid, vv in cands.items()]
    planted.write(tmp_path, "embeddings", vecs)
    out = sorted((r for r in planted.run(spark, "embedding_mmr_diverse_topk", tmp_path)
                  if r["query_id"] == 1), key=lambda r: r["pick_order"])

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    q = v(0.0)
    rel = {vid: cos(q, vv) for vid, vv in cands.items()}
    shortlist = sorted(rel, key=lambda vid: (-rel[vid], vid))[:10]
    picked = []
    for _ in range(3):
        best = None
        for c in shortlist:
            if c in picked:
                continue
            penalty = max((cos(cands[c], cands[p]) for p in picked), default=0.0)
            score = rel[c] - 0.5 * penalty if picked else rel[c]
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c)
        picked.append(best[1])
    assert [r["cand_id"] for r in out] == picked
    for r in out:
        assert abs(r["relevance"] - rel[r["cand_id"]]) < 5e-6  # float32 grain
    # the greedy property itself: pick 2 is NOT the 2nd-most-relevant
    # (a cluster near-dup) — the diversity penalty reordered
    by_rel = sorted(rel, key=lambda vid: (-rel[vid], vid))
    assert picked[1] == 13 and by_rel[1] != 13
