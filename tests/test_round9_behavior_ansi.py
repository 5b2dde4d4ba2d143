"""Round-9 behavior tests, batch 2: the ANSI relational family over the
planted TPC-H world (COVERAGE.md inventory class D -> B).

Join-type matrix (semi / anti / full outer / right outer), reshape pair
(pivot / unpivot), grouping-set trio (rollup / cube / grouping sets),
window battery (ranking + navigation), set ops, global sort-limit,
HAVING, top-K per group, running sum, and market-basket pairs — each
recomputed by a plain-Python loop implementation written from the ANSI
semantics (bitmask grouping_id, ntile floor distribution, running
RANGE/ROWS frame defaults, count(col) null-skipping), sharing no code
with the Spark plans or the DuckDB oracles.

The world (tests/test_round9_behavior_tpch.py) plants the edges these
semantics need: a customer nation with no suppliers and a supplier
nation with no customers (full outer), a zero-order customer (left-join
count = 0), a 10-order 5-LOW priority group (the only one crossing
HAVING > 5), 24 orders (LIMIT 20 bites), one 'P'-status pair of orders
(pivot's third column), and exactly one part pair with support >= 3.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from tests import planted
from tests.planted import (
    CUST_BY_KEY,
    CUSTOMER,
    LINEITEM,
    NATION_NAME,
    ORDERS,
    SUPPLIER,
)


# --- join-type matrix -----------------------------------------------------------
def test_semi_and_anti_join_partition_customers(spark, world):
    semi = planted.run(spark, "semi_join_customers_with_orders", world)
    anti = planted.run(spark, "anti_join_customers_without_orders", world)

    with_big = {o[1] for o in ORDERS if o[3] > 100000}
    assert {r["c_custkey"] for r in semi} == with_big
    assert {r["c_custkey"] for r in anti} == {c[0] for c in CUSTOMER} - with_big
    # semi + anti is a partition: disjoint, covers every customer exactly once
    assert len(semi) + len(anti) == len(CUSTOMER)
    for r in semi + anti:
        assert r["c_name"] == CUST_BY_KEY[r["c_custkey"]][1]


def test_full_outer_nation_balance_planted(spark, world):
    got = planted.run(spark, "full_outer_nation_balance", world)

    cust_side = defaultdict(lambda: [0.0, 0])
    for c in CUSTOMER:
        cust_side[c[2]][0] += c[3]
        cust_side[c[2]][1] += 1
    supp_side = defaultdict(lambda: [0.0, 0])
    for s in SUPPLIER:
        supp_side[s[2]][0] += s[3]
        supp_side[s[2]][1] += 1
    # planted: nation 6 is customer-only, nation 5 supplier-only
    assert 6 in cust_side and 6 not in supp_side
    assert 5 in supp_side and 5 not in cust_side

    by_nation = {r["nationkey"]: r for r in got}
    assert set(by_nation) == set(cust_side) | set(supp_side)
    for nk, r in by_nation.items():
        if nk in cust_side:
            assert r["cust_bal"] == pytest.approx(cust_side[nk][0])
            assert r["n_cust"] == cust_side[nk][1]
        else:
            assert r["cust_bal"] is None and r["n_cust"] is None
        if nk in supp_side:
            assert r["supp_bal"] == pytest.approx(supp_side[nk][0])
            assert r["n_supp"] == supp_side[nk][1]
        else:
            assert r["supp_bal"] is None and r["n_supp"] is None


def test_right_outer_supplier_lines_planted(spark, world):
    got = planted.run(spark, "right_outer_supplier_lines", world)

    agg = {s[0]: [0, None] for s in SUPPLIER}  # count(col) skips nulls -> 0
    for row in LINEITEM:
        if row[4] >= 45:
            acc = agg[row[2]]
            acc[0] += 1
            acc[1] = row[5] if acc[1] is None else acc[1] + row[5]
    matched = {sk for sk, (n, _) in agg.items() if n}
    assert matched == {2, 3}  # planted: only the 50- and 150-qty lines
    assert [r["s_suppkey"] for r in got] == sorted(agg)
    for r in got:
        n, total = agg[r["s_suppkey"]]
        assert r["n_lines"] == n
        if total is None:
            assert r["sum_price"] is None  # sum over all-NULL group is NULL
        else:
            assert r["sum_price"] == pytest.approx(total)


def test_rollup_returnflag_status_planted(spark, world):
    got = planted.run(spark, "rollup_returnflag_status", world)

    expected = defaultdict(lambda: [0, 0.0])
    for row in LINEITEM:
        for key in [(row[8], row[9]), (row[8], "ALL"), ("ALL", "ALL")]:
            expected[key][0] += 1
            expected[key][1] += row[4]
    assert {(r["returnflag"], r["linestatus"]) for r in got} == set(expected)
    for r in got:
        n, qty = expected[(r["returnflag"], r["linestatus"])]
        assert r["n_items"] == n
        assert r["sum_qty"] == pytest.approx(qty)
    # grand total row covers every lineitem exactly once
    total = next(r for r in got if r["returnflag"] == "ALL")
    assert total["n_items"] == len(LINEITEM)


def test_cube_priority_status_planted(spark, world):
    got = planted.run(spark, "cube_priority_status", world)

    expected = defaultdict(lambda: [0, 0.0])
    for o in ORDERS:
        for key in [(o[5], o[2]), (o[5], None), (None, o[2]), (None, None)]:
            expected[key][0] += 1
            expected[key][1] += o[3]
    assert {(r["o_orderpriority"], r["o_orderstatus"]) for r in got} == set(expected)
    for r in got:
        n, total = expected[(r["o_orderpriority"], r["o_orderstatus"])]
        assert r["n_orders"] == n
        assert r["total_price"] == pytest.approx(total)


def test_grouping_sets_priority_status_planted(spark, world):
    got = planted.run(spark, "grouping_sets_priority_status", world)

    # grouping_id bitmask: bit (n-1-i) set when column i is aggregated away
    expected = defaultdict(lambda: [0, 0.0])
    for o in ORDERS:
        for key in [(o[5], o[2], 0), (o[5], None, 1), (None, o[2], 2)]:
            expected[key][0] += 1
            expected[key][1] += o[3]
    assert {
        (r["o_orderpriority"], r["o_orderstatus"], r["gid"]) for r in got
    } == set(expected)
    for r in got:
        n, total = expected[(r["o_orderpriority"], r["o_orderstatus"], r["gid"])]
        assert r["n_orders"] == n
        assert r["sum_price"] == pytest.approx(total)
    # ordered by gid first
    assert [r["gid"] for r in got] == sorted(r["gid"] for r in got)


# --- reshape pair ---------------------------------------------------------------
def test_pivot_status_by_priority_planted(spark, world):
    got = planted.run(spark, "pivot_status_by_priority", world)

    counts = defaultdict(lambda: {"O": 0, "F": 0, "P": 0})
    for o in ORDERS:
        counts[o[5]][o[2]] += 1
    assert {r["o_orderpriority"] for r in got} == set(counts)
    for r in got:
        c = counts[r["o_orderpriority"]]
        assert (r["status_o"], r["status_f"], r["status_p"]) == (
            c["O"],
            c["F"],
            c["P"],
        )
    # planted: the 'P' column is non-zero only for 4-NOT SPECIFIED
    assert {r["o_orderpriority"] for r in got if r["status_p"]} == {
        "4-NOT SPECIFIED"
    }


def test_unpivot_nation_metrics_planted(spark, world):
    got = planted.run(spark, "unpivot_nation_metrics", world)

    per_nation = defaultdict(lambda: [0, 0, 0])  # customers, orders, urgent
    orders_by_cust = defaultdict(list)
    for o in ORDERS:
        orders_by_cust[o[1]].append(o)
    for c in CUSTOMER:
        acc = per_nation[NATION_NAME[c[2]]]
        acc[0] += 1
        acc[1] += len(orders_by_cust[c[0]])
        acc[2] += sum(1 for o in orders_by_cust[c[0]] if o[5] == "1-URGENT")
    expected = []
    for name in sorted(per_nation):
        n_cust, n_ord, n_urg = per_nation[name]
        expected += [
            (name, "n_customers", n_cust),
            (name, "n_orders", n_ord),
            (name, "n_urgent", n_urg),
        ]
    assert [(r["n_name"], r["metric"], r["value"]) for r in got] == expected
    # planted: Cust#6's nation appears with zero orders (left-join kept)
    assert (NATION_NAME[6], "n_orders", 0) in expected


# --- set ops / sort-limit / having ----------------------------------------------
def test_set_ops_customer_segments_planted(spark, world):
    got = planted.run(spark, "set_ops_customer_segments", world)

    building = {c[0] for c in CUSTOMER if c[4] == "BUILDING"}
    auto = {c[0] for c in CUSTOMER if c[4] == "AUTOMOBILE"}
    negative = {c[0] for c in CUSTOMER if c[3] < 0}
    expected = (building | auto) - negative
    assert negative & (building | auto)  # the EXCEPT removes someone real
    assert {r["c_custkey"] for r in got} == expected
    assert len(got) == len(expected)  # UNION deduplicates


def test_sort_limit_top_orders_planted(spark, world):
    got = planted.run(spark, "sort_limit_top_orders", world)

    ranked = sorted(ORDERS, key=lambda o: (-o[3], o[0]))[:20]
    assert len(ORDERS) > 20  # the limit actually truncates
    assert [(r["o_orderkey"], r["o_custkey"]) for r in got] == [
        (o[0], o[1]) for o in ranked
    ]
    for r, o in zip(got, ranked):
        assert r["o_totalprice"] == pytest.approx(o[3])


def test_agg_having_priorities_planted(spark, world):
    got = planted.run(spark, "agg_having_priorities", world)

    groups = defaultdict(lambda: [0, 0.0])
    for o in ORDERS:
        if o[2] != "F":
            groups[o[5]][0] += 1
            groups[o[5]][1] += o[3]
    kept = {p: (n, t) for p, (n, t) in groups.items() if n > 5}
    assert kept and len(kept) < len(groups)  # HAVING keeps some, drops some
    assert [(r["o_orderpriority"],) for r in got] == [(p,) for p in sorted(kept)]
    for r in got:
        n, t = kept[r["o_orderpriority"]]
        assert r["n_orders"] == n
        assert r["total_spend"] == pytest.approx(t)


# --- per-group ranking / running frames ------------------------------------------
def _orders_per_customer():
    by_cust = defaultdict(list)
    for o in ORDERS:
        by_cust[o[1]].append(o)
    return by_cust


def test_topk_orders_per_customer_planted(spark, world):
    got = planted.run(spark, "topk_orders_per_customer", world)

    expected = {}
    for ck, orders in _orders_per_customer().items():
        ranked = sorted(orders, key=lambda o: (-o[3], o[0]))
        for rn, o in enumerate(ranked[:3], start=1):
            expected[o[0]] = (ck, o[3], rn)
    assert {r["o_orderkey"] for r in got} == set(expected)
    for r in got:
        ck, price, rn = expected[r["o_orderkey"]]
        assert r["o_custkey"] == ck
        assert r["o_totalprice"] == pytest.approx(price)
        assert r["rn"] == rn
    # planted: at least one customer has >3 orders, so rn<=3 truncates
    assert len(got) < len(ORDERS)


def test_window_running_sum_planted(spark, world):
    got = planted.run(spark, "window_running_sum", world)

    expected = {}
    for ck, orders in _orders_per_customer().items():
        run = 0.0
        for seq, o in enumerate(
            sorted(orders, key=lambda o: (planted.day(o[4]), o[0])), start=1
        ):
            run += o[3]
            expected[o[0]] = (run, seq)
    assert len(got) == len(ORDERS)
    for r in got:
        run, seq = expected[r["o_orderkey"]]
        assert r["running_spend"] == pytest.approx(run)
        assert r["order_seq"] == seq


def test_window_function_battery_planted(spark, world):
    got = planted.run(spark, "window_function_battery", world)

    cents = lambda p: round(p * 100)  # noqa: E731
    expected = {}
    for ck, orders in _orders_per_customer().items():
        run = sorted(orders, key=lambda o: (planted.day(o[4]), o[0]))
        n = len(run)
        base, extra = divmod(n, 4)
        for i, o in enumerate(run):
            rn = i + 1
            # (o_orderdate, o_orderkey) is unique, so rank == dense_rank == rn
            quartile, used = 1, 0
            while True:
                size = base + (1 if quartile <= extra else 0)
                if rn <= used + size:
                    break
                used += size
                quartile += 1
            expected[o[0]] = {
                "rnk": rn,
                "drnk": rn,
                "rn": rn,
                "quartile": quartile,
                "pct_rank": 0.0 if n == 1 else (rn - 1) / (n - 1),
                "cdist": rn / n,
                "prev_cents": cents(run[i - 1][3]) if i > 0 else None,
                "next_cents": cents(run[i + 1][3]) if i + 1 < n else None,
                "first_cents": cents(run[0][3]),
                # default running frame: the 2nd value is invisible at row 1
                "second_cents": cents(run[1][3]) if n > 1 and i >= 1 else None,
            }
    assert len(got) == len(ORDERS)
    for r in got:
        exp = expected[r["o_orderkey"]]
        for col, want in exp.items():
            if isinstance(want, float):
                assert r[col] == pytest.approx(want), (r["o_orderkey"], col)
            else:
                assert r[col] == want, (r["o_orderkey"], col)


# --- market basket ---------------------------------------------------------------
def test_market_basket_pairs_planted(spark, world):
    got = planted.run(spark, "market_basket_pairs", world)

    support = defaultdict(int)
    baskets = defaultdict(set)
    for row in LINEITEM:
        baskets[row[0]].add(row[1])
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                support[(a, b)] += 1
    expected = sorted(
        ((k, s) for k, s in support.items() if s >= 3),
        key=lambda kv: (-kv[1], kv[0]),
    )
    # planted: exactly one pair (parts 1+2 in orders 100/105/109) survives
    assert [k for k, _ in expected] == [(1, 2)]
    assert [((r["part_a"], r["part_b"]), r["support"]) for r in got] == expected


# --- ntile distribution sanity (device check, not an engine query) ---------------
def test_battery_ntile_matches_floor_distribution():
    """Pin the third implementation's ntile against the ANSI definition
    on a case bigger than the world: 10 rows into 4 buckets = 3/3/2/2."""
    n, buckets = 10, 4
    base, extra = divmod(n, buckets)
    sizes = [base + (1 if q <= extra else 0) for q in range(1, buckets + 1)]
    assert sizes == [3, 3, 2, 2] and sum(sizes) == n
