"""Round-12 hardening pins.

attribution_markov_removal grew a measured-threshold driver-side solve
arm (the value iteration runs over an O(variants x channels^2) relation
whose size depends only on channel cardinality; below
_MRA_DRIVER_MAX_CHANNELS the rolled-up transition table is collected
once and the same truncating-integer iteration runs in exact Python
ints — sf0.1 warm steady measured 6.53 s -> ~1.8 s). These tests pin
the equivalence contract: the two arms must return IDENTICAL rows on
real data, on the nulls hostile world (3VL: NULL s dropped by the
variant filter, NULL t counts toward tot but contributes 0), and on the
empty world. If the driver mirror ever drifts from the SQL semantics,
this fails before the oracle gate does.
"""

from __future__ import annotations

import datetime as _dt
import random as _random
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import dynamodb_stream_processor_2_0_spark.plans.queries_causal_eval as QCE
from dynamodb_stream_processor_2_0_spark.plans import registry
from tests import planted

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT / "tools") not in sys.path:
    sys.path.insert(0, str(REPO_ROOT / "tools"))

from hostile_sweep import build_degenerate, build_empty, build_nulls  # noqa: E402


SF0001 = "/root/testdata/sf0.001"


def _both_arms(spark, sf_dir: str):
    fn = registry.get("attribution_markov_removal").fn
    saved = QCE._MRA_DRIVER_MAX_CHANNELS
    try:
        QCE._MRA_DRIVER_MAX_CHANNELS = 10**9  # force driver arm
        driver_rows = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        QCE._MRA_DRIVER_MAX_CHANNELS = -1  # force distributed arm
        dist_rows = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        QCE._MRA_DRIVER_MAX_CHANNELS = saved
    return driver_rows, dist_rows


def test_mra_arms_identical_real_data(spark):
    driver_rows, dist_rows = _both_arms(spark, SF0001)
    assert driver_rows == dist_rows
    assert len(driver_rows) > 0
    # schema-stable 5-tuple: channel + 4 BIGINT metrics
    assert all(len(r) == 5 for r in driver_rows)


@pytest.mark.parametrize(
    "build", [build_degenerate, build_nulls, build_empty], ids=["degenerate", "nulls", "empty"]
)
def test_mra_arms_identical_hostile(spark, build, tmp_path):
    build(str(tmp_path))
    driver_rows, dist_rows = _both_arms(spark, str(tmp_path))
    assert driver_rows == dist_rows


def test_mra_default_gate_uses_driver_arm_on_testdata(spark):
    """The gate must actually fire on the realistic corpus (5 event
    types << 64) — if the threshold constant regresses, the measured
    win silently disappears."""
    assert QCE._MRA_DRIVER_MAX_CHANNELS >= 5


# ---------------------------------------------------------------------------
# with_pair_fold: the r12 codegen fast path for pairwise vector folds.
# The unrolled expression MUST be bit-identical to the zip_with/aggregate
# HOF on every input class — same left fold, same IEEE order — and the
# DataFrame-level split must route every row class to a correct arm.
# ---------------------------------------------------------------------------
_ADVERSARIAL_VECS = [
    # (label, a, b)
    ("random", [((7 * i + 3) % 13 - 6) / 7.0 for i in range(64)],
     [((5 * i + 1) % 11 - 5) / 3.0 for i in range(64)]),
    ("neg-zero-a", [-0.0] * 64, [0.0] * 64),
    ("neg-zero-b", [0.0] * 64, [-0.0] * 64),
    ("nan", [float("nan")] * 64, [1.0] * 64),
    ("inf", [float("inf")] * 64, [-1.0] * 64),
    ("short-equal", [1.5] * 3, [0.5] * 3),
    ("ragged", [1.0] * 64, [1.0] * 3),
    ("null-array", None, [1.0] * 64),
    ("null-elem", [None if i == 5 else 1.0 for i in range(64)], [1.0] * 64),
]


@pytest.mark.parametrize("kind", ["dot", "sqdist"])
def test_pair_fold_bit_identical_to_hof(spark, kind):
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, a, b) for i, (_l, a, b) in enumerate(_ADVERSARIAL_VECS)],
        "id long, a array<double>, b array<double>",
    )
    ref = df.select(
        "id", F.expr(f"cast({S._fold_hof_sql(kind, 'a', 'b')} as string)").alias("v")
    )
    got = S.with_pair_fold(df, "a", "b", "_out", kind=kind).select(
        "id", F.expr("cast(_out as string)").alias("v")
    )
    ref_rows = {r["id"]: r["v"] for r in ref.collect()}
    got_rows = {r["id"]: r["v"] for r in got.collect()}
    assert got_rows == ref_rows  # string form distinguishes -0.0/NaN/NULL


def test_pair_fold_int_dot_matches_hof(spark):
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.operators import similarity as S

    rows = [
        (0, [1] * 64, [2] * 64),
        (1, [-(3**5)] * 64, [7] * 64),
        (2, [1] * 3, [1] * 3),          # short equal
        (3, [1] * 64, [1] * 5),          # ragged
        (4, None, [1] * 64),             # null array
        (5, [None if i == 9 else 1 for i in range(64)], [1] * 64),
    ]
    df = spark.createDataFrame(rows, "id long, a array<bigint>, b array<bigint>")
    ref = {r["id"]: r["v"] for r in df.select(
        "id", F.expr(S._fold_hof_sql("int_dot", "a", "b")).alias("v")).collect()}
    got = {r["id"]: r["v"] for r in S.with_pair_fold(
        df, "a", "b", "_out", kind="int_dot").select(
        "id", F.col("_out").alias("v")).collect()}
    assert got == ref


def test_pair_folds_single_split_multi_output(spark):
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, a, b) for i, (_l, a, b) in enumerate(_ADVERSARIAL_VECS)],
        "id long, a array<double>, b array<double>",
    )
    got = S.with_pair_folds(
        df, [("a", "b", "d1", "dot"), ("a", "a", "d2", "dot")]
    )
    ref = df.select(
        "id",
        F.expr(f"cast({S._fold_hof_sql('dot', 'a', 'b')} as string)").alias("d1"),
        F.expr(f"cast({S._fold_hof_sql('dot', 'a', 'a')} as string)").alias("d2"),
    )
    g = {r["id"]: (r["d1"], r["d2"]) for r in got.select(
        "id", F.expr("cast(d1 as string)").alias("d1"),
        F.expr("cast(d2 as string)").alias("d2")).collect()}
    r = {x["id"]: (x["d1"], x["d2"]) for x in ref.collect()}
    assert g == r
    # the split must not drop or duplicate rows
    assert got.count() == df.count()


def _plant_interval_events(tmp, day_intervals):
    """day_intervals: {date_iso: [(s_sec, e_sec), ...]} — one interval
    per synthetic user; two events pin (min, max) seconds-of-day."""
    rows = []
    eid = 0
    for day, ivs in sorted(day_intervals.items()):
        for uid, (s, e) in enumerate(ivs, start=1):
            for sec in {s, e}:
                ts = _dt.datetime.fromisoformat(day) + _dt.timedelta(seconds=sec)
                rows.append((eid, ts, uid, "click", 1.0))
                eid += 1
    planted.write(tmp, "events", rows)


def _brute_census(day_intervals):
    """The oracle's normalized CASE, O(n^2): the lexicographically
    smaller (s, e, uid) interval leads, then
    equals/starts/finishes/meets/during/overlaps in branch order;
    disjoint pairs count as precedes."""
    out = {}
    for day, ivs in day_intervals.items():
        counts = {}
        n = len(ivs)
        inter = 0
        for i in range(n):
            for j in range(i + 1, n):
                a = (ivs[i][0], ivs[i][1], i + 1)
                b = (ivs[j][0], ivs[j][1], j + 1)
                (s1, e1, _), (s2, e2, _) = (a, b) if a <= b else (b, a)
                if not (s1 <= e2 and s2 <= e1):
                    continue
                inter += 1
                if s1 == s2 and e1 == e2:
                    rel = "equals"
                elif s1 == s2:
                    rel = "starts"
                elif e1 == e2:
                    rel = "finishes"
                elif e1 == s2:
                    rel = "meets"
                elif e1 > e2:
                    rel = "during"
                else:
                    rel = "overlaps"
                counts[rel] = counts.get(rel, 0) + 1
        prec = n * (n - 1) // 2 - inter
        if prec > 0:
            counts["precedes"] = prec
        for rel, c in counts.items():
            out[(day, rel)] = c
    return out


def _brute_overlap(day_intervals):
    """n_pairs = intersecting pairs; sum = min(e)-max(s) over them."""
    out = {}
    for day, ivs in day_intervals.items():
        n_pairs = 0
        total = 0
        for i in range(len(ivs)):
            for j in range(i + 1, len(ivs)):
                (sa, ea), (sb, eb) = ivs[i], ivs[j]
                if sa <= eb and sb <= ea:
                    n_pairs += 1
                    total += min(ea, eb) - max(sa, sb)
        if n_pairs > 0:
            out[day] = (n_pairs, total)
    return out


def _random_interval_worlds(seed=20261216, n_days=18):
    rng = _random.Random(seed)
    worlds = {}
    for d in range(n_days):
        day = (_dt.date(2024, 3, 1) + _dt.timedelta(days=d)).isoformat()
        n = rng.randint(0, 28)
        # tiny domain -> dense ties, points, meets chains, nesting
        dom = rng.choice([4, 7, 12, 30])
        ivs = []
        for _ in range(n):
            s = rng.randint(0, dom)
            e = rng.randint(s, dom)
            ivs.append((s, e))
        worlds[day] = ivs
    # hand-planted worst cases on a fixed day
    worlds["2024-02-01"] = [
        (5, 5), (5, 5),            # point equals
        (5, 9), (5, 9),            # equals
        (5, 7), (5, 12),           # starts (shared s with the points)
        (3, 9), (1, 9),            # finishes
        (0, 5), (5, 5),            # point meets? no: shares s=5 ->
                                   # classifier precedence exercised
        (9, 11), (2, 9),           # meets chain at 9
        (1, 12), (2, 3), (2, 3),   # nesting + equal twins
        (20, 25),                  # disjoint tail -> precedes
    ]
    return worlds


def test_allen_census_matches_bruteforce_random(spark, tmp_path):
    worlds = _random_interval_worlds()
    _plant_interval_events(tmp_path, worlds)
    got = {
        (r.day, r.relation): r.n_pairs
        for r in planted.run(spark, "interval_allen_algebra_census", tmp_path)
    }
    assert got == _brute_census(worlds)


def test_overlap_join_matches_bruteforce_random(spark, tmp_path):
    worlds = _random_interval_worlds()
    _plant_interval_events(tmp_path, worlds)
    got = {
        r.day: (r.n_pairs, r.sum_overlap_sec)
        for r in planted.run(spark, "interval_overlap_join", tmp_path)
    }
    assert got == _brute_overlap(worlds)


def _shingle_frame(spark, rows):
    # rows: (doc_id, [shingles])  -- DISTINCT sets, like shingles_col
    flat = [(d, s) for d, ss in rows for s in ss]
    return spark.createDataFrame(flat or [], "doc_id long, shingle string")


def test_array_verification_identity_vs_exploded_join(spark):
    sh = _shingle_frame(
        spark,
        [
            (1, ["aa", "bb", "cc"]),   # full overlap with 2
            (2, ["aa", "bb", "cc"]),
            (3, ["aa", "bb", "zz"]),   # partial overlap with 1/2
            (4, ["qq"]),               # zero overlap with everything
            # doc 5 has NO shingles (short text): absent from sh
        ],
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (1, 5), (5, 2)],
        "doc_a long, doc_b long",
    )
    # OLD form: exploded intersection join + size join + left join
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.select(
                F.col("doc_id").alias("b_id"),
                F.col("shingle").alias("shingle_b"),
            ),
            (F.col("doc_b") == F.col("b_id")) & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    old = (
        cand.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("i", F.lit(0)).cast("long").alias("i"),
            (F.col("na") + F.col("nb") - F.coalesce("i", F.lit(0))).cast("long").alias("u"),
        )
    )
    # NEW form: sorted arrays + array_intersect
    arr = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    )
    new = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("vs").alias("va"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("vs").alias("vb"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("va", "vb")).cast("long").alias("i"),
            (F.col("na") + F.col("nb") - F.size(F.array_intersect("va", "vb"))).cast("long").alias("u"),
        )
    )
    old_rows = sorted(tuple(r) for r in old.collect())
    new_rows = sorted(tuple(r) for r in new.collect())
    assert old_rows == new_rows
    # shingle-less doc 5 must be DROPPED by both forms (inner size join)
    assert all(r[0] != 5 and r[1] != 5 for r in new_rows)
    # sanity: full overlap (1,2) -> i=3,u=3; zero overlap (1,4) -> i=0,u=4
    m = {(a, b): (i, u) for a, b, i, u in new_rows}
    assert m[(1, 2)] == (3, 3) and m[(1, 4)] == (0, 4)


def test_ind_single_pass_identity_vs_anti_join(spark):
    # NULL lhs keys never match in either form; both must count them
    # as violations AND in n_lhs_distinct.
    lhs_rows = [(1,), (2,), (None,), (7,)]
    rhs_rows = [(1,), (3,)]
    for lr, rr in [
        (lhs_rows, rhs_rows),
        ([], rhs_rows),          # empty lhs: 0/0
        (lhs_rows, []),          # empty rhs: all violations
        ([(None,)], [(None,)]),  # NULL never matches NULL
    ]:
        lhs = spark.createDataFrame(lr or [], "k long").distinct()
        rhs = spark.createDataFrame(rr or [], "k long").distinct()
        old = (
            lhs.join(rhs, "k", "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("v"))
            .crossJoin(lhs.agg(F.count(F.lit(1)).cast("long").alias("n")))
            .collect()[0]
        )
        new = (
            lhs.join(rhs.withColumn("_hit", F.lit(1)), "k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                # count(when(...)) not sum(when(...)): must be 0, not
                # NULL, over an empty lhs — the production form's
                # empty-world contract.
                F.count(F.when(F.col("_hit").isNull(), 1))
                .cast("long")
                .alias("v"),
            )
            .collect()[0]
        )
        assert (old["v"], old["n"]) == (new["v"], new["n"])
