"""Round-8 behavior tests: planted-model recovery and algebraic axioms
for the advanced/relational analytics that previously had ONLY
twin-formula oracle parity (the r7 verdict's item 5 — "enumerate the
registered ops that still have only twin-formula parity and fill the
gaps").

Same device as tests/test_round7_behavior.py: a PLANTED sf_dir (tmp
directory of tiny parquet tables with the production schemas) drives
the exact shipped plan, and the expected answer is recomputed in plain
sequential Python from the published algorithm — a third
implementation, not a twin of the Spark/DuckDB formula pair. Where the
shipped plan is a closed-form rewrite of a sequential algorithm (CUSUM
prefix-min form, FIFO clamp form, skyline window form), the test runs
the SEQUENTIAL original, which is precisely the check parity cannot
provide.
"""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

from tests import planted


def _daily_count_events(series_by_type, start="2024-01-01"):
    """series_by_type: {event_type: [day0_count, ...]}; None skips the
    day entirely. Emits COUNT events per (type, day) — for the ops
    that aggregate daily counts, plant count patterns."""
    rows = []
    eid = 0
    t0 = dt.date.fromisoformat(start)
    for etype, series in series_by_type.items():
        for d, c in enumerate(series):
            if c is None:
                continue
            day = t0 + dt.timedelta(days=d)
            for k in range(c):
                rows.append(
                    (
                        eid,
                        f"{day.isoformat()}T{10 + (k % 12):02d}:00:00",
                        1 + eid % 7,
                        etype,
                        1.0,
                    )
                )
                eid += 1
    return rows


# --- CUSUM: the closed form vs the published recursion -----------------------
def test_cusum_matches_sequential_recursion(spark, tmp_path):
    """The shipped plan computes CUSUM as prefix - min(0, running-min
    of prefixes). Run the PUBLISHED sequential recursion
    s_i = max(0, s_{i-1} + dev_i) on the planted daily counts and
    demand exact equality — the algebraic identity the closed form
    rests on, checked by the original algorithm."""
    # level shift: 14 days at 3/day then 10 days at 9/day
    counts = [3] * 14 + [9] * 10
    planted.write(tmp_path, "events", _daily_count_events({"view": counts}))
    rows = {r["day"]: r for r in planted.run(spark, "events_cusum_shift_detect", tmp_path)}

    nd, tot = len(counts), sum(counts)
    s = 0
    t0 = dt.date.fromisoformat("2024-01-01")
    for d, c in enumerate(counts):
        s = max(0, s + (nd * c - tot))
        day = (t0 + dt.timedelta(days=d)).isoformat()
        assert rows[day]["cusum_scaled"] == s, day
        assert rows[day]["c"] == c
    # detection shape: zero through the pre-shift regime's first days,
    # strictly climbing across the post-shift regime
    assert rows["2024-01-01"]["cusum_scaled"] == 0
    post = [rows[(t0 + dt.timedelta(days=d)).isoformat()]["cusum_scaled"]
            for d in range(14, 24)]
    assert post == sorted(post) and post[-1] > post[0]


# --- two-sample KS: sequential merged-CDF recomputation ----------------------
def _ks_sequential(purchase_vals, view_vals):
    """Textbook two-sample KS on integer-cent values: D as the max
    |n2*cum1 - n1*cum2| over the merged support."""
    n1, n2 = len(purchase_vals), len(view_vals)
    support = sorted(set(purchase_vals) | set(view_vals))
    c1 = c2 = best = 0
    for v in support:
        c1 += sum(1 for x in purchase_vals if x == v)
        c2 += sum(1 for x in view_vals if x == v)
        best = max(best, abs(n2 * c1 - n1 * c2))
    return n1, n2, best


def test_ks_identical_vs_disjoint_samples(spark, tmp_path):
    ident = [100, 200, 300, 400, 500] * 4
    rows = []
    eid = 0
    for v in ident:
        rows.append((eid, "2024-01-01T10:00:00", 1, "purchase", v / 100.0))
        eid += 1
    for v in ident:
        rows.append((eid, "2024-01-01T11:00:00", 2, "view", v / 100.0))
        eid += 1
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "events_ks_distribution_shift", tmp_path)
    n1, n2, d = _ks_sequential(ident, ident)
    assert (r["n1"], r["n2"], r["d_scaled"]) == (n1, n2, d) and d == 0
    assert r["d_micro"] == 0 and not r["reject_5pct"]


def test_ks_shifted_samples_sequential_recomputation(spark, tmp_path):
    purchase = [100, 150, 200, 250, 300, 350, 400, 450, 500, 550] * 3
    view = [v + 500 for v in purchase]  # hard shift: fully separated (min 600 > max 550)
    rows = []
    eid = 0
    for v in purchase:
        rows.append((eid, "2024-01-01T10:00:00", 1, "purchase", v / 100.0))
        eid += 1
    for v in view:
        rows.append((eid, "2024-01-01T11:00:00", 2, "view", v / 100.0))
        eid += 1
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "events_ks_distribution_shift", tmp_path)
    n1, n2, d = _ks_sequential(purchase, view)
    assert (r["n1"], r["n2"], r["d_scaled"]) == (n1, n2, d)
    assert d == n1 * n2  # fully separated -> D = 1
    assert r["d_micro"] == 1_000_000
    # 5% rule, recomputed: d^2 * 1e6 > 1844772 * (n1+n2) * n1 * n2
    assert r["reject_5pct"] == (d * d * 1_000_000 > 1844772 * (n1 + n2) * n1 * n2)
    assert r["reject_5pct"]


# --- weighted median: cumulative-distribution definition ---------------------
def test_weighted_median_dominant_weight(spark, tmp_path):
    """A customer holding >half the segment revenue IS the weighted
    median regardless of every other balance — the defining property
    interpolated quantiles would violate."""
    planted.write(tmp_path, "customer", [
            (1, "a", 0, 10.00, "SEG"),
            (2, "b", 0, 999.00, "SEG"),  # dominant weight, highest balance
            (3, "c", 0, 5.00, "SEG"),
            (4, "d", 0, 70.00, "OTHER"),
            (5, "e", 0, 30.00, "OTHER"),
        ])
    planted.write(tmp_path, "orders", [
            (10, 1, "F", 100.00, "2024-01-01T00:00:00", "1-URGENT"),
            (11, 2, "F", 600.00, "2024-01-02T00:00:00", "1-URGENT"),
            (12, 3, "F", 100.00, "2024-01-03T00:00:00", "1-URGENT"),
            # OTHER: equal weights -> median is the first bal whose cum
            # reaches half, in ascending (bal, custkey) order = 30.00
            (13, 4, "F", 50.00, "2024-01-04T00:00:00", "1-URGENT"),
            (14, 5, "F", 50.00, "2024-01-05T00:00:00", "1-URGENT"),
        ])
    rows = {r["c_mktsegment"]: r for r in
            planted.run(spark, "customer_weighted_median_balance", tmp_path)}
    # SEG ascending balances: c(5.00, w=10000), a(10.00, w=10000),
    # b(999.00, w=60000); tot=80000; cum 10000, 20000, 80000 -> first
    # 2*cum >= tot is b
    assert rows["SEG"]["weighted_median_bal_cents"] == 99900
    assert rows["SEG"]["total_weight_cents"] == 80000
    assert rows["OTHER"]["weighted_median_bal_cents"] == 3000
    assert rows["OTHER"]["total_weight_cents"] == 10000


# --- winsorized stats: sequential clamp recomputation ------------------------
def test_winsorized_stats_clamps_outliers(spark, tmp_path):
    """Sequential recomputation of the p5/p95 interpolated quantiles
    and the clamped sum; the two planted outliers must move the raw
    mean but barely the winsorized one."""
    vals = [float(v) for v in range(1, 20)] + [10_000.0]  # 20 values
    rows = [(i, "2024-01-01T10:00:00", 1 + i % 3, "view", v)
            for i, v in enumerate(vals)]
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "agg_winsorized_stats", tmp_path)

    def q_interp(sorted_vals, p):
        # linear interpolation, the percentile_cont / quantile_cont rule
        h = p * (len(sorted_vals) - 1)
        lo = int(h)
        hi = min(lo + 1, len(sorted_vals) - 1)
        return sorted_vals[lo] + (h - lo) * (sorted_vals[hi] - sorted_vals[lo])

    sv = sorted(vals)
    lo, hi = q_interp(sv, 0.05), q_interp(sv, 0.95)
    clamped = [min(max(v, lo), hi) for v in vals]
    assert r["n_events"] == 20
    assert r["n_clamped"] == sum(1 for v in vals if v < lo or v > hi)
    assert abs(r["winsorized_sum"] - sum(clamped)) < 1e-6
    assert abs(r["winsorized_mean"] - sum(clamped) / 20) < 1e-9
    # the robust property itself: outlier contributes hi, not 10000
    assert r["winsorized_mean"] < 100


# --- least-squares trend slope: exact rational vs Fraction --------------------
def test_trend_slope_exact_rational(spark, tmp_path):
    """Plant a noisy series and recompute the LSQ slope as a Fraction;
    the op's (num, den) pair must equal the exact rational and the
    scaled quotient must follow the sign-extracted truncation rule.
    Includes a NEGATIVE non-integer slope — the floor-vs-truncate trap
    the op documents."""
    # daily revenue cents: y = 1000 - 7*x + planted residuals (sum 0)
    resid = [3, -3, 5, -5, 2, -2, 0, 4, -4, 0]
    ys = [1000 - 7 * x + resid[x] for x in range(10)]
    rows = [(x, f"2024-01-{x + 1:02d}T12:00:00", 1, "purchase", ys[x] / 100.0)
            for x in range(10)]
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "events_trend_slope_by_type", tmp_path)
    n = len(ys)
    sx, sy = sum(range(n)), sum(ys)
    sxy = sum(x * y for x, y in enumerate(ys))
    sxx = sum(x * x for x in range(n))
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    assert (r["slope_num"], r["slope_den"]) == (num, den)
    slope = Fraction(num, den)
    assert slope < 0 and slope.denominator > 1  # the trap is armed
    sign = 1 if num >= 0 else -1
    assert r["slope_cents_per_day_x100"] == sign * (abs(num) * 100 // den)
    assert not r["trending_up"]


# --- Benford audit: integer chi-square recomputation --------------------------
def test_benford_chi_square_recomputation(spark, tmp_path):
    from dynamodb_stream_processor_2_0_spark.plans.queries_advanced import (
        _BENFORD_MICRO,
    )

    # first digits: 1 x12, 2 x5, 9 x3 (all other digits absent)
    prices = [100.0] * 12 + [25.50] * 5 + [9000.0] * 3
    planted.write(tmp_path, "orders", [(i, 1 + i, "F", p, "2024-01-01T00:00:00", "1-URGENT")
         for i, p in enumerate(prices)])
    rows = {r["first_digit"]: r for r in
            planted.run(spark, "orders_benford_digit_audit", tmp_path)}
    obs = {1: 12, 2: 5, 9: 3}
    n = 20
    assert set(rows) == set(range(1, 10))  # absent digits still audited
    for d in range(1, 10):
        e = _BENFORD_MICRO[d]
        o = obs.get(d, 0)
        assert rows[d]["n_obs"] == o
        assert rows[d]["obs_micro"] == o * 1_000_000 // n
        assert rows[d]["exp_micro"] == e
        dev = o * 1_000_000 - n * e
        assert rows[d]["chi2_term_micro"] == dev * dev // (n * n * e), d


# --- bot regularity: CV^2 of planted gap patterns ----------------------------
def test_bot_regularity_constant_vs_bursty_gaps(spark, tmp_path):
    rows = []
    eid = 0
    t0 = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    # user 1: metronome, exactly 600s gaps x 8
    for k in range(9):
        rows.append((eid, (t0 + dt.timedelta(seconds=600 * k)).isoformat(),
                     1, "view", 1.0))
        eid += 1
    # user 2: bursty, gaps alternating 10s and 3600s
    t = t0
    gaps2 = [10, 3600, 10, 3600, 10, 3600, 10, 3600]
    rows.append((eid, t.isoformat(), 2, "view", 1.0))
    eid += 1
    for g in gaps2:
        t = t + dt.timedelta(seconds=g)
        rows.append((eid, t.isoformat(), 2, "view", 1.0))
        eid += 1
    # user 3: only 3 gaps -> filtered by n >= 5
    for k in range(4):
        rows.append((eid, (t0 + dt.timedelta(seconds=60 * k)).isoformat(),
                     3, "view", 1.0))
        eid += 1
    planted.write(tmp_path, "events", rows)
    out = {r["user_id"]: r for r in
           planted.run(spark, "events_bot_regularity_score", tmp_path)}
    assert set(out) == {1, 2}

    def cv2_milli(gaps):
        n, sd, sdd = len(gaps), sum(gaps), sum(g * g for g in gaps)
        return (n * sdd - sd * sd) * 1000 // (sd * sd)

    assert out[1]["cv2_milli"] == 0 and out[1]["is_machine_regular"]
    assert out[1]["n_gaps"] == 8 and out[1]["mean_gap_s"] == 600
    assert out[2]["cv2_milli"] == cv2_milli(gaps2)
    assert out[2]["cv2_milli"] > 900  # near-alternating -> CV^2 ~ 1
    assert not out[2]["is_machine_regular"]


# --- error spike: cross-multiplied rate compare ------------------------------
def test_error_spike_planted_regimes(spark, tmp_path):
    # 7 days at 100 total / 5 errors (5%), then a 20% day, then a 5% day
    totals = [100] * 7 + [100, 100]
    errors = [5] * 7 + [20, 5]
    series = {
        "error": errors,
        "view": [t - e for t, e in zip(totals, errors)],
    }
    planted.write(tmp_path, "events", _daily_count_events(series))
    rows = {r["day"]: r for r in
            planted.run(spark, "events_error_spike_detection", tmp_path)}
    t0 = dt.date.fromisoformat("2024-01-01")
    for d in range(9):
        day = (t0 + dt.timedelta(days=d)).isoformat()
        trail_t = sum(totals[max(0, d - 7):d])
        trail_e = sum(errors[max(0, d - 7):d])
        r = rows[day]
        assert (r["n_total"], r["n_errors"]) == (totals[d], errors[d])
        assert (r["trail_total"], r["trail_errors"]) == (trail_t, trail_e)
        expect = trail_t > 0 and errors[d] * trail_t > 2 * totals[d] * trail_e
        assert r["is_spike"] == expect, day
    assert not rows["2024-01-01"]["is_spike"]  # no trail -> never a spike
    assert rows["2024-01-08"]["is_spike"]      # 20% vs 5% trailing
    assert not rows["2024-01-09"]["is_spike"]  # back to baseline


# --- DAU/WAU stickiness: brute-force window recomputation ---------------------
def test_dau_wau_stickiness_planted(spark, tmp_path):
    # users per day (day -> set of user ids); includes a gap day (absent)
    plan = {
        0: {1, 2, 3},
        1: {1},
        2: {4, 5},
        4: {1, 2, 3, 4, 5, 6},
        9: {1},
    }
    rows = []
    eid = 0
    t0 = dt.date.fromisoformat("2024-03-01")
    for d, users in plan.items():
        for u in users:
            day = t0 + dt.timedelta(days=d)
            rows.append((eid, f"{day.isoformat()}T09:00:00", u, "view", 1.0))
            eid += 1
    planted.write(tmp_path, "events", rows)
    out = {r["day"]: r for r in
           planted.run(spark, "events_dau_wau_stickiness", tmp_path)}
    assert len(out) == len(plan)  # gap days produce no row
    for d, users in plan.items():
        day = (t0 + dt.timedelta(days=d)).isoformat()
        wau_users = set()
        for d2, u2 in plan.items():
            if d - 7 < d2 <= d:
                wau_users |= u2
        r = out[day]
        assert r["dau"] == len(users)
        assert r["wau"] == len(wau_users)
        assert abs(r["stickiness"] - len(users) / len(wau_users)) < 1e-12


# --- rolling 7d active users: exact arm vs brute force ------------------------
def test_rolling_7d_active_users_exact_arm(spark, tmp_path):
    plan = {0: {1, 2}, 1: {2, 3}, 3: {4}, 8: {1}, 9: {5, 6, 7}}
    rows = []
    eid = 0
    t0 = dt.date.fromisoformat("2024-03-01")
    for d, users in plan.items():
        for u in users:
            day = t0 + dt.timedelta(days=d)
            rows.append((eid, f"{day.isoformat()}T09:00:00", u, "view", 1.0))
            eid += 1
    planted.write(tmp_path, "events", rows)
    out = {r["day"]: r for r in planted.run(spark, "rolling_7d_active_users", tmp_path)}
    for d, _ in plan.items():
        day = (t0 + dt.timedelta(days=d)).isoformat()
        in_win = [d2 for d2 in plan if d - 7 < d2 <= d]
        users = set().union(*(plan[d2] for d2 in in_win))
        assert out[day]["n_days_in_window"] == len(in_win)
        assert out[day]["exact_active_7d"] == len(users)
        assert out[day]["sketch_within_5pct"]  # tiny cardinalities: HLL exact


# --- seasonality index ---------------------------------------------------------
def test_seasonality_index_peak_month(spark, tmp_path):
    # 3 months: feb = 3x the jan/mar revenue (the 2x case sits EXACTLY
    # on the >1.5x boundary: 2000*3*2 == 4000*3 -> not a peak, which
    # the loop below still verifies via the cross-multiplied rule)
    orders = [
        (1, 1, "F", 10.00, "2024-01-10T00:00:00", "1-URGENT"),
        (2, 2, "F", 30.00, "2024-02-10T00:00:00", "1-URGENT"),
        (3, 3, "F", 10.00, "2024-03-10T00:00:00", "1-URGENT"),
    ]
    planted.write(tmp_path, "orders", orders)
    rows = {r["month"]: r for r in
            planted.run(spark, "orders_seasonality_index", tmp_path)}
    tot, nm = 5000, 3
    for mon, cents in [(1, 1000), (2, 3000), (3, 1000)]:
        assert rows[mon]["cents"] == cents
        assert rows[mon]["seasonality_permille"] == cents * nm * 1000 // tot
        assert rows[mon]["is_peak"] == (cents * nm * 2 > tot * 3)
    assert rows[2]["is_peak"] and not rows[1]["is_peak"]


# --- FIFO allocation: the sequential pop-the-queue original -------------------
def _fifo_sequential(lots):
    """lots: [(qty, cents)] in ship order. The textbook loop the
    shipped plan closed-forms: consume against demand = total//2."""
    total = sum(q for q, _ in lots)
    demand = total // 2
    remaining = demand
    allocated = cost = touched = 0
    for qty, cents in lots:
        take = min(qty, max(0, remaining))
        remaining -= take
        allocated += take
        cost += take * cents // qty
        touched += 1 if take > 0 else 0
    return total, demand, allocated, cost, touched


def test_fifo_allocation_sequential_recomputation(spark, tmp_path):
    # part 1: lots 5,3,4 (total 12, demand 6 -> lot1 full, lot2 partial)
    # part 2: odd total 7 -> demand 3, first lot partial only
    # ship order ties broken by (l_orderkey, l_linenumber)
    li = [
        (100, 1, 1, 1, 5.0, 50.00, "2024-01-01T00:00:00"),
        (101, 1, 1, 1, 3.0, 60.00, "2024-01-02T00:00:00"),
        (102, 1, 1, 1, 4.0, 40.00, "2024-01-03T00:00:00"),
        (103, 2, 1, 1, 7.0, 77.77, "2024-01-01T00:00:00"),
    ]
    planted.write(tmp_path, "lineitem", li, planted.LINEITEM_COLS)
    rows = {r["l_partkey"]: r for r in
            planted.run(spark, "lineitem_fifo_allocation", tmp_path)}
    for part, lots in {
        1: [(5, 5000), (3, 6000), (4, 4000)],
        2: [(7, 7777)],
    }.items():
        total, demand, allocated, cost, touched = _fifo_sequential(lots)
        r = rows[part]
        assert r["total_qty"] == total
        assert r["demand_qty"] == demand
        assert r["allocated_qty"] == allocated == demand
        assert r["fifo_cost_cents"] == cost
        assert r["n_lots_touched"] == touched
    # hand-check part 1: 5 @ 1000c/u + 1 of lot2 @ 6000*1//3
    assert rows[1]["fifo_cost_cents"] == 5000 + 6000 * 1 // 3
    assert rows[1]["n_lots_touched"] == 2


# --- Gini: boundary distributions ---------------------------------------------
def test_gini_equal_and_concentrated(spark, tmp_path):
    # equal revenues -> G = 0 exactly
    planted.write(tmp_path, "orders", [(i, i, "F", 100.00, "2024-01-01T00:00:00", "1-URGENT")
         for i in range(1, 6)])
    (r,) = planted.run(spark, "customer_revenue_gini", tmp_path)
    assert (r["n_customers"], r["total_cents"]) == (5, 50000)
    assert r["gini_x1e8"] == 0

    # one customer owns everything among n=5 -> G = (n-1)/n = 0.8
    planted.write(tmp_path, "orders", [(i, i, "F", 0.00, "2024-01-01T00:00:00", "1-URGENT")
         for i in range(1, 5)]
        + [(5, 5, "F", 100.00, "2024-01-01T00:00:00", "1-URGENT")])
    (r,) = planted.run(spark, "customer_revenue_gini", tmp_path)
    assert r["gini_x1e8"] == 80_000_000


# --- HHI: planted supplier shares ----------------------------------------------
def test_hhi_planted_shares(spark, tmp_path):
    li = [
        # part 1: 50/50 across two suppliers -> HHI = 0.5
        (1, 1, 10, 1, 4.0, 0.0, "2024-01-01T00:00:00"),
        (2, 1, 11, 1, 4.0, 0.0, "2024-01-01T00:00:00"),
        # part 2: shares 1/2, 1/4, 1/4 -> HHI = 0.375
        (3, 2, 10, 1, 2.0, 0.0, "2024-01-01T00:00:00"),
        (4, 2, 11, 1, 1.0, 0.0, "2024-01-01T00:00:00"),
        (5, 2, 12, 1, 1.0, 0.0, "2024-01-01T00:00:00"),
        # part 3: single supplier -> excluded by n_suppliers >= 2
        (6, 3, 10, 1, 9.0, 0.0, "2024-01-01T00:00:00"),
    ]
    planted.write(tmp_path, "lineitem", li, planted.LINEITEM_COLS)
    rows = {r["l_partkey"]: r for r in planted.run(spark, "part_sourcing_hhi", tmp_path)}
    assert set(rows) == {1, 2}
    assert rows[1]["hhi_x1e8"] == 50_000_000
    assert rows[1]["n_suppliers"] == 2
    assert rows[2]["hhi_x1e8"] == 37_500_000
    assert rows[2]["n_suppliers"] == 3


# --- Pareto 80/20: planted concentration ---------------------------------------
def test_supplier_pareto_cumulative_shares(spark, tmp_path):
    li = [
        (1, 1, 1, 1, 1.0, 50.00, "2024-01-01T00:00:00"),
        (2, 1, 2, 1, 1.0, 30.00, "2024-01-01T00:00:00"),
        (3, 1, 3, 1, 1.0, 20.00, "2024-01-01T00:00:00"),
    ]
    planted.write(tmp_path, "lineitem", li, planted.LINEITEM_COLS)
    rows = {r["l_suppkey"]: r for r in
            planted.run(spark, "supplier_pareto_analysis", tmp_path)}
    # descending: s1 cum 5000, s2 cum 8000, s3 cum 10000; total 10000
    assert rows[1]["cum_cents"] == 5000 and rows[1]["in_top80"]
    assert rows[2]["cum_cents"] == 8000 and rows[2]["in_top80"]
    assert rows[3]["cum_cents"] == 10000 and not rows[3]["in_top80"]
    assert all(r["total_cents"] == 10000 for r in rows.values())


# --- basket lift: independence normalization -----------------------------------
def test_market_basket_lift_planted(spark, tmp_path):
    # 6 baskets; parts 1,2 co-occur in 3; part 1 in 5, part 2 in 3.
    # pair (1,3) co-occurs twice -> filtered by support >= 3.
    baskets = {
        1: [1, 2],
        2: [1, 2],
        3: [1, 2],
        4: [1, 3],
        5: [1, 3],
        6: [4],
    }
    li = []
    lk = 0
    for ok, parts in baskets.items():
        for p in parts:
            lk += 1
            li.append((ok, p, 1, lk, 1.0, 1.00, "2024-01-01T00:00:00"))
    planted.write(tmp_path, "lineitem", li, planted.LINEITEM_COLS)
    out = planted.run(spark, "market_basket_lift", tmp_path)
    assert len(out) == 1
    r = out[0]
    assert (r["part_a"], r["part_b"], r["support"]) == (1, 2, 3)
    assert (r["support_a"], r["support_b"]) == (5, 3)
    nb = 6
    assert r["lift_x1e6"] == round(1_000_000.0 * 3 * nb / (5 * 3))


# --- skyline: O(n^2) dominance oracle -------------------------------------------
def test_pareto_skyline_planted_dominance(spark, tmp_path):
    """Sequential quadratic dominance test as the third implementation:
    a point survives iff no other point has (earlier day, >= price) or
    (same-or-earlier day, > price) ... precisely: dominated iff some
    point has strictly earlier x and cents >= its cents, or same x and
    strictly greater cents (matching the shipped two-window test)."""
    pts = [  # (orderkey, day offset, price)
        (1, 0, 50.00),
        (2, 0, 50.00),   # same-day equal -> tie, both in the skyline row
        (3, 1, 60.00),   # later but higher -> survives
        (4, 1, 55.00),   # same day as 3, lower -> dominated (m_same)
        (5, 2, 40.00),   # later and lower than 3 -> dominated (m_before)
        (6, 3, 70.00),   # survives
    ]
    base = dt.date.fromisoformat("1992-01-01")
    planted.write(tmp_path, "orders", [(k, k, "F", p,
          f"{(base + dt.timedelta(days=x)).isoformat()}T00:00:00", "1-URGENT")
         for k, x, p in pts])
    out = planted.run(spark, "orders_pareto_skyline", tmp_path)

    # sequential recomputation
    cents = [(k, x, round(p * 100)) for k, x, p in pts]
    surv = {}
    for k, x, c in cents:
        m_before = max((c2 for _, x2, c2 in cents if x2 < x), default=None)
        m_same = max(c2 for _, x2, c2 in cents if x2 == x)
        if (m_before is None or m_before < c) and m_same == c:
            key = (x, c)
            n, mk = surv.get(key, (0, 10**9))
            surv[key] = (n + 1, min(mk, k))
    got = {(r["day_no"], r["cents"]): (r["n_orders"], r["min_orderkey"])
           for r in out}
    assert got == surv
    assert got[(0, 5000)] == (2, 1)  # the tie row
    assert (1, 5500) not in got and (2, 4000) not in got


# --- relational division: coverage boundary --------------------------------------
def test_relational_division_all_quarters(spark, tmp_path):
    planted.write(tmp_path, "customer", [
            (1, "full", 0, 0.0, "SEG_A"),
            (2, "missing_q3", 0, 0.0, "SEG_A"),
            (3, "full_dup_orders", 0, 0.0, "SEG_B"),
            (4, "outside_window", 0, 0.0, "SEG_B"),
        ])
    orders = []
    ok = 0
    # customer 1: one order in each quarter of 1995
    for m in (2, 5, 8, 11):
        ok += 1
        orders.append((ok, 1, "F", 10.0, f"1995-{m:02d}-15T00:00:00", "X"))
    # customer 2: q1, q2, q4 only
    for m in (1, 4, 10):
        ok += 1
        orders.append((ok, 2, "F", 10.0, f"1995-{m:02d}-15T00:00:00", "X"))
    # customer 3: multiple orders per quarter (distinct must dedup)
    for m in (1, 1, 4, 4, 7, 7, 12, 12):
        ok += 1
        orders.append((ok, 3, "F", 10.0, f"1995-{m:02d}-15T00:00:00", "X"))
    # customer 4: covers all quarters but in 1994 (outside the window)
    for m in (2, 5, 8, 11):
        ok += 1
        orders.append((ok, 4, "F", 10.0, f"1994-{m:02d}-15T00:00:00", "X"))
    planted.write(tmp_path, "orders", orders)
    rows = {r["c_mktsegment"]: r for r in
            planted.run(spark, "relational_division_all_quarters", tmp_path)}
    assert rows["SEG_A"]["n_customers"] == 1
    assert rows["SEG_A"]["min_custkey"] == rows["SEG_A"]["max_custkey"] == 1
    assert rows["SEG_B"]["n_customers"] == 1
    assert rows["SEG_B"]["min_custkey"] == 3


# --- replay-pair forensics --------------------------------------------------------
def test_replay_pair_window_boundary(spark, tmp_path):
    t0 = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    rows = [
        # same content, 1h apart -> pair
        (1, t0.isoformat(), 7, "purchase", 12.34),
        (2, (t0 + dt.timedelta(hours=1)).isoformat(), 7, "purchase", 12.34),
        # same content, exactly 7 days -> still a pair (<= 604800)
        (3, (t0 + dt.timedelta(days=7, hours=1)).isoformat(), 7, "purchase", 12.34),
        # same content, different user -> no pair with the above
        (4, t0.isoformat(), 8, "purchase", 12.34),
        # different value -> no pair
        (5, t0.isoformat(), 7, "purchase", 12.35),
    ]
    planted.write(tmp_path, "events", rows)
    out = planted.run(spark, "events_replay_pair_detect", tmp_path)
    pairs = {(r["event_id_a"], r["event_id_b"]): r["seconds_apart"] for r in out}
    # (1,2) 3600s; (2,3) 7 days exactly; (1,3) is 7d+1h -> outside
    assert pairs == {(1, 2): 3600, (2, 3): 604800}
    assert all(r["user_id"] == 7 and r["cents"] == 1234 for r in out)


# --- moment stats: exact correlation ----------------------------------------------
def test_moment_stats_perfect_correlation(spark, tmp_path):
    import json as _json

    # y = 2x exactly -> corr = 1; values chosen so cents are exact
    xs = [1.00, 2.00, 3.00, 4.00, 5.00]
    rows = [
        (i, "2024-01-01T10:00:00", 1, "purchase", x,
         _json.dumps({"k": int(2 * round(x * 100))}))
        for i, x in enumerate(xs)
    ]
    planted.write(tmp_path, "events", rows)
    (r,) = planted.run(spark, "agg_moment_stats", tmp_path)
    n = len(xs)
    cents = [round(x * 100) for x in xs]
    s1, s2 = sum(cents), sum(c * c for c in cents)
    assert r["n"] == n
    assert abs(r["mean_value"] - s1 / (100.0 * n)) < 1e-12
    assert abs(r["var_value"] - (s2 - s1 * s1 / n) / (10000.0 * (n - 1))) < 1e-9
    assert abs(r["corr_value_k"] - 1.0) < 1e-12
