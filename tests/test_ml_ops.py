"""Behavior tests for the ML-primitive and round-6-continuation
operators: the algorithmic GUARANTEES (OLS recovers a planted linear
model exactly; Shapley satisfies the dummy/efficiency axioms with
exact integer credits; Allen census classifies a hand-built day
exactly; Mann-Kendall computes the closed-form S/Var on a monotone
series; the pattern miner tolerates its promised gap; Fellegi-Sunter's
decision thresholds) on hand-constructed inputs —
properties the sf-parity differential suite can't state, per the
SURVEY §5 unit+differential test model."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.plans import registry
from tests.oracle_harness import compare_query

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "events",
    "embeddings",
)


def _sf_dir_with(spark, sf_dir, tmp_path, overrides):
    """Build a synthetic sf dir under ``tmp_path``: symlink every real
    table, overwrite the given {name: DataFrame} as single-file parquet
    (the DuckDB side of the harness reads file paths)."""
    d = str(tmp_path)
    tmp = str(tmp_path / "write")
    for t in TABLES:
        if t not in overrides:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    for t, df in overrides.items():
        out = f"{tmp}/{t}"
        df.coalesce(1).write.mode("overwrite").parquet(out)
        shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], f"{d}/{t}.parquet")
    return d


# --- closed-form OLS: exact model recovery ---------------------------------


def test_ols_recovers_planted_linear_model(spark, sf_dir, tmp_path):
    """Plant y_cents = 300 + 200*qty + 50*disc_permille exactly over a
    full (qty, discount) grid; the closed-form fit must return the
    planted coefficients EXACTLY on the milli grid (digit-drop k=0)."""
    rows = []
    for q in range(1, 51):
        for dp in range(0, 101, 10):
            cents = 300 + 200 * q + 50 * dp
            rows.append((1, 1, 1, 1, float(q), cents / 100.0, dp / 1000.0,
                         0.0, "A", "O", "1995-01-01"))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    d = _sf_dir_with(spark, sf_dir, tmp_path, {"lineitem": li})
    out = registry.get("ml_ols_regression_closed_form").fn(spark, d)
    row = {r["l_returnflag"]: r for r in out.collect()}["A"]
    assert row["digits_dropped"] == 0
    assert row["b0_cents_milli"] == 300_000
    assert row["b1_cents_per_qty_milli"] == 200_000
    assert row["b2_cents_per_permille_milli"] == 50_000
    # and the oracle twin agrees on the synthetic shape too
    compare_query(spark, registry.get("ml_ols_regression_closed_form"), d)


# --- Shapley: dummy + efficiency axioms ------------------------------------


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_shapley_dummy_and_efficiency_axioms(spark, sf_dir, tmp_path):
    """10 users exposed only to click all convert; 10 users exposed
    only to view never convert. v(S) = 10 iff click in S, so click's
    exact credit24 is 24*10 = 240 and every other channel is a dummy
    with credit 0; the efficiency column must hold."""
    rows = []
    eid = 0
    base = "2024-01-0{d} 10:00:00"
    for u in range(10):
        rows.append((eid, base.format(d=1), u, "click", 1.0, "{}")); eid += 1
        rows.append((eid, base.format(d=2), u, "purchase", 5.0, "{}")); eid += 1
    for u in range(10, 20):
        rows.append((eid, base.format(d=1), u, "view", 1.0, "{}")); eid += 1
    ev = _events_df(
        spark,
        [(a, None, c, d_, e, f) for a, _, c, d_, e, f in rows],
    ).withColumn("ts", F.lit("2024-01-01 10:00:00").cast("timestamp"))
    d = _sf_dir_with(spark, sf_dir, tmp_path, {"events": ev})
    out = {
        r["channel"]: r
        for r in registry.get("attribution_shapley_exact")
        .fn(spark, d)
        .collect()
    }
    assert out["click"]["credit24"] == 240
    assert out["click"]["credit_permille"] == 1000
    for ch in ("error", "signup", "view"):
        assert out[ch]["credit24"] == 0
    assert all(r["efficiency_holds"] for r in out.values())
    compare_query(spark, registry.get("attribution_shapley_exact"), d)


# --- Allen census on a hand-built day --------------------------------------


def test_allen_census_classifies_handbuilt_day(spark, sf_dir, tmp_path):
    """Intervals u1=[0,10], u2=[2,5], u3=[10,20], u4=[2,5]:
    {u2,u4} equals; u1-u2 and u1-u4 during; u1-u3 meets;
    u2-u3 and u4-u3 precede. Total = C(4,2) = 6 pairs."""
    day = "2024-03-05 10:00:"
    iv = {1: (0, 10), 2: (2, 5), 3: (10, 20), 4: (2, 5)}
    rows = []
    eid = 0
    for u, (s, e) in iv.items():
        for sec in (s, e):
            rows.append((eid, f"{day}{sec:02d}", u, "view", 1.0, "{}"))
            eid += 1
    ev = _events_df(
        spark, [(a, None, c, d_, e_, f) for a, _, c, d_, e_, f in rows]
    )
    ts = [r[1] for r in rows]
    ev = ev.withColumn(
        "ts",
        F.element_at(
            F.array(*[F.lit(t) for t in ts]).cast("array<timestamp>"),
            (F.col("event_id") + 1).cast("int"),
        ),
    )
    d = _sf_dir_with(spark, sf_dir, tmp_path, {"events": ev})
    out = {
        r["relation"]: r["n_pairs"]
        for r in registry.get("interval_allen_algebra_census")
        .fn(spark, d)
        .collect()
    }
    assert out == {"equals": 1, "during": 2, "meets": 1, "precedes": 2}


# --- Mann-Kendall closed form on a monotone series -------------------------


def test_mann_kendall_monotone_series_closed_form(spark, sf_dir, tmp_path):
    """30 strictly increasing daily values for one type: S = C(30,2) =
    435 exactly, var18 = 30*29*65 = 56550 (no ties), significant
    increasing."""
    rows = [
        (i, f"2024-01-{(i % 30) + 1:02d} 09:00:00", 1, "signup",
         float(i + 1), "{}")
        for i in range(30)
    ]
    ev = _events_df(
        spark, [(a, None, c, d_, e_, f) for a, _, c, d_, e_, f in rows]
    )
    ts = [r[1] for r in rows]
    ev = ev.withColumn(
        "ts",
        F.element_at(
            F.array(*[F.lit(t) for t in ts]).cast("array<timestamp>"),
            (F.col("event_id") + 1).cast("int"),
        ),
    )
    d = _sf_dir_with(spark, sf_dir, tmp_path, {"events": ev})
    out = {
        r["event_type"]: r
        for r in registry.get("events_mann_kendall_test")
        .fn(spark, d)
        .collect()
    }
    row = out["signup"]
    assert row["n_days"] == 30
    assert row["s_stat"] == 435
    assert row["var18"] == 30 * 29 * 65
    assert row["direction"] == "increasing"
    assert bool(row["significant"]) is True
    compare_query(spark, registry.get("events_mann_kendall_test"), d)


# --- sequential patterns: the promised gap tolerance -----------------------


def test_sequential_patterns_tolerate_one_gap(spark, sf_dir, tmp_path):
    """Three users each do view, error, click, purchase: the
    view>click>purchase pattern (click is 2 positions after view —
    one noise event skipped) must be found with user support 3."""
    rows = []
    eid = 0
    for u in range(3):
        for i, t in enumerate(("view", "error", "click", "purchase")):
            rows.append((eid, f"2024-02-01 08:0{i}:00", u, t, 1.0, "{}"))
            eid += 1
    ev = _events_df(
        spark, [(a, None, c, d_, e_, f) for a, _, c, d_, e_, f in rows]
    )
    ts = [r[1] for r in rows]
    ev = ev.withColumn(
        "ts",
        F.element_at(
            F.array(*[F.lit(t) for t in ts]).cast("array<timestamp>"),
            (F.col("event_id") + 1).cast("int"),
        ),
    )
    d = _sf_dir_with(spark, sf_dir, tmp_path, {"events": ev})
    out = {
        r["pattern"]: r
        for r in registry.get("events_sequential_patterns")
        .fn(spark, d)
        .collect()
    }
    assert out["view>click>purchase"]["n_users"] == 3
    assert out["view>click>purchase"]["n_occurrences"] == 3
    # strictly-adjacent run is also there, via the (1, 2) combo
    assert out["view>error>click"]["n_users"] == 3


# --- Fellegi-Sunter decision thresholds ------------------------------------


def test_fellegi_sunter_thresholds(spark, sf_dir, tmp_path):
    """Two identical-attribute parts score +8266 (match); a pair
    agreeing on nothing but the block scores -10155 (non-match);
    brand+type-only agreement scores -74 -> possible is NOT reached
    (below 0), adjacent evidence matters."""
    parts = spark.createDataFrame(
        [
            (1, "red widget", "B1", "T1", 5, 10.0),
            (2, "red widget", "B1", "T1", 5, 10.0),   # equals #1
            (3, "blue widget", "B2", "T2", 5, 10.0),  # disagrees all
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    d = _sf_dir_with(spark, sf_dir, tmp_path, {"part": parts})
    out = {
        r["decision"]: r
        for r in registry.get("dedup_fellegi_sunter_linkage")
        .fn(spark, d)
        .collect()
    }
    assert out["match"]["n_pairs"] == 1
    assert out["match"]["max_score_milli"] == 8266
    assert out["non_match"]["n_pairs"] == 2
    assert out["non_match"]["min_score_milli"] == -10155
    assert "possible" not in out


# --- B-cubed: perfect clustering scores 1000/1000/1000 ---------------------


def test_bcubed_perfect_on_exact_duplicate_corpus(spark, sf_dir, tmp_path):
    """A corpus of distinct texts plus exact copies: LSH+CC recovers
    exactly the md5 truth groups, so B^3 P = R = F1 = 1000."""
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet purple",
        "north south east west up down left right middle",
    ]
    rows = []
    for i, t in enumerate(texts):
        rows.append((i * 10, t, "en", "src0", len(t)))
        rows.append((i * 10 + 1, t, "en", "src0", len(t)))  # exact copy
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = _sf_dir_with(spark, sf_dir, tmp_path, {"documents": docs})
    row = registry.get("eval_dedup_bcubed").fn(spark, d).collect()[0]
    assert row["n_docs"] == 8
    assert row["n_sys_clusters"] == 4 and row["n_truth_groups"] == 4
    assert row["bcubed_p_permille"] == 1000
    assert row["bcubed_r_permille"] == 1000
    assert row["bcubed_f1_permille"] == 1000
    compare_query(spark, registry.get("eval_dedup_bcubed"), d)


# --- split-conformal: the finite-sample coverage guarantee -----------------


def test_conformal_coverage_guarantee(spark, sf_dir, sf_dir_medium):
    """Split conformal promises P(|y - yhat| <= q) >= 1 - alpha = 0.9
    on exchangeable data, up to binomial sampling noise in the
    realized test-split coverage (and an upper slack of ~1/(n_cal+1)
    plus noise). Both SFs must land in the guarantee band, and the
    calibration rank must be exactly ceil(0.9 * (n_cal + 1))."""
    spec = registry.get("ml_conformal_interval_coverage")
    for d in (sf_dir, sf_dir_medium):
        row = spec.fn(spark, d).collect()[0]
        n_cal, k = row["n_cal"], row["k_rank"]
        assert k == min(n_cal, (9 * (n_cal + 1) + 9) // 10)
        # 3-sigma binomial band around 900 permille on the test size.
        import math

        sigma = 1000 * math.sqrt(0.9 * 0.1 / row["n_test"])
        lo = 900 - 3 * sigma
        hi = 900 + 1000 / (n_cal + 1) + 3 * sigma
        assert lo <= row["coverage_permille"] <= hi, row
        assert row["half_width_cents"] > 0
        assert row["n_train"] > row["n_cal"]
