"""Privacy audits and schema/metadata discovery: k-anonymity,
l-diversity, t-closeness, DP sensitivity calibration, synthetic-data
fidelity, functional-dependency / inclusion-dependency / candidate-key
discovery, data-skew profiling, and the SQL UDF / parameterized-query
surface.

Split out of the round-5/6 analytics extension module (one theme per
module).
Discovery ops bound their candidate spaces explicitly (column-pair
lattices over PROFILED distinct counts, never data cartesians).

House arithmetic rules apply: exact BIGINT / DECIMAL grids, truncating
division only on non-negative operands, sign extracted before any
floored ratio, md5-derived hashes shared bit-for-bit with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


# --- join-key skew profiler ------------------------------------------------

_SKEW_KEYS = (
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
)


def _skew_oracle_sql() -> str:
    arms = []
    for table, key in _SKEW_KEYS:
        arms.append(f"""(
        WITH freq AS (
            SELECT CAST({key} AS VARCHAR) AS k, count(*) AS f
            FROM {table} GROUP BY 1
        ), ranked AS (
            SELECT f,
                   row_number() OVER (ORDER BY f ASC, k ASC) AS rn_asc,
                   row_number() OVER (ORDER BY f DESC, k ASC) AS rn_desc,
                   count(*) OVER () AS nk,
                   sum(f) OVER () AS nr
            FROM freq
        )
        SELECT '{table}.{key}' AS source,
               CAST(max(nr) AS BIGINT) AS n_rows,
               CAST(max(nk) AS BIGINT) AS n_keys,
               CAST(max(f) AS BIGINT) AS max_freq,
               CAST((sum(CASE WHEN rn_desc <= 10 THEN f ELSE 0 END) * 1000)
                    // max(nr) AS BIGINT) AS top10_share_permille,
               CAST(max(CASE WHEN rn_asc = (nk + 1) // 2
                        THEN f END) AS BIGINT) AS p50_freq,
               CAST(max(CASE WHEN rn_asc = (99 * nk + 99) // 100
                        THEN f END) AS BIGINT) AS p99_freq
        FROM ranked
        )""")
    return (
        "\n        UNION ALL\n".join(arms) + "\n        ORDER BY source"
    )


@register(
    "data_skew_profile",
    oracle=_skew_oracle_sql(),
    tags=("quality", "scale", "A1"),
    doc="Join-key skew profiler over the four hot join keys "
    "(orders.o_custkey, lineitem.l_orderkey, lineitem.l_suppkey, "
    "events.user_id): rows, keys, max key frequency, top-10-key share "
    "(permille), and exact p50/p99 of the key-frequency distribution "
    "— the pre-flight diagnostic that decides WHEN the engine's skew "
    "mitigations (skew_salted_agg's salting, AQE skew-join splits) "
    "are worth their cost. Percentiles are exact rank picks "
    "(ceil-index over the ordered frequency relation, the post-agg "
    "side, which is |keys| not |rows|); the only full-data work is "
    "one count per key — map-side combinable.",
)
def data_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each arm aggregates the key-frequency relation (small even at
    100 TB: |distinct keys|), so the window ranks never see raw rows."""
    # No global window anywhere (the engine-wide plan lint forbids
    # single-partition windows): percentiles come from the FREQUENCY-
    # OF-FREQUENCIES relation (distinct per-key counts — tiny even at
    # 100 TB) via a triangular cumulative join, and the top-10 share
    # from a TakeOrdered limit; rank-pick and min-f-with-cum>=ceil(q*n)
    # are the same statistic.
    arms = []
    for table, key in _SKEW_KEYS:
        t = load_table(spark, sf_dir, table)
        # The arms DO recompute freq/ff per consumer (~5 scans/arm) —
        # deliberately: lazy-pinning freq+ff was measured SLOWER
        # (2.57 -> 3.19 s), and ff alone SLOWER still (2.94 -> 4.07 s,
        # position-fair isolated A/B, r12): the checkpoint's
        # materialization barrier costs more than the column-pruned
        # scan+rollup redundancy it removes. Struck; see
        # OPTIMIZATION_r12.md.
        freq = t.groupBy(F.col(key).cast("string").alias("k")).agg(
            F.count(F.lit(1)).alias("f")
        )
        ff = freq.groupBy("f").agg(F.count(F.lit(1)).alias("m"))
        a_ff, b_ff = ff.alias("a"), ff.alias("b")
        cum = (
            a_ff.join(b_ff, F.col("b.f") <= F.col("a.f"))
            .groupBy(F.col("a.f").alias("f"))
            .agg(F.sum("b.m").alias("cum"))
        )
        totals = ff.agg(
            F.sum("m").cast("long").alias("nk"),
            F.sum(F.col("f") * F.col("m")).cast("long").alias("nr"),
            F.max("f").cast("long").alias("max_freq"),
        )
        top10 = (
            freq.orderBy(F.col("f").desc(), F.col("k").asc())
            .limit(10)
            .agg(F.sum("f").cast("long").alias("top_f"))
        )
        pcts = (
            cum.crossJoin(F.broadcast(totals))
            .agg(
                F.min(
                    F.when(
                        F.col("cum") >= F.expr("(nk + 1) div 2"), F.col("f")
                    )
                )
                .cast("long")
                .alias("p50_freq"),
                F.min(
                    F.when(
                        F.col("cum") >= F.expr("(99 * nk + 99) div 100"),
                        F.col("f"),
                    )
                )
                .cast("long")
                .alias("p99_freq"),
            )
        )
        arms.append(
            totals.crossJoin(F.broadcast(top10))
            .crossJoin(F.broadcast(pcts))
            .select(
                F.lit(f"{table}.{key}").alias("source"),
                F.col("nr").alias("n_rows"),
                F.col("nk").alias("n_keys"),
                "max_freq",
                F.expr("cast(top_f * 1000 div nr AS bigint)").alias(
                    "top10_share_permille"
                ),
                "p50_freq",
                "p99_freq",
            )
        )
    u = arms[0]
    for a in arms[1:]:
        u = u.unionByName(a)
    return u.orderBy("source")

# --- SQL UDF (CREATE TEMPORARY FUNCTION) surface ---------------------------


@register(
    "sql_udf_temp_function",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                        - (CAST(round(o_totalprice * 100) AS BIGINT)
                           * CASE WHEN o_orderpriority IN
                                       ('1-URGENT', '2-HIGH')
                                  THEN 0 ELSE 50 END) // 1000)
                    AS BIGINT) AS discounted_cents
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("sql", "functions", "P12"),
    doc="Spark 4 SQL-language UDF surface: CREATE OR REPLACE TEMPORARY "
    "FUNCTION with a RETURNS ... RETURN body (declarative, "
    "catalyst-inlined — unlike a Python UDF the optimizer sees "
    "through it: constant folding and codegen apply as if the "
    "expression were written inline, which the oracle proves by "
    "BEING the inlined expression). The function computes a "
    "priority-conditional discount in exact integer cents with "
    "truncating division on non-negatives.",
)
def sql_udf_temp_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDFs are session-scoped catalog objects; CREATE OR REPLACE
    keeps the query re-runnable in one session and concurrent-safe
    per session (temp functions are session-isolated)."""
    from dynamodb_stream_processor_2_0_spark.sources.catalog import (
        register_views,
    )

    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION priority_discount_cents(
            cents BIGINT, prio STRING
        ) RETURNS BIGINT
        RETURN cents - (cents * CASE WHEN prio IN ('1-URGENT', '2-HIGH')
                                     THEN 0 ELSE 50 END) div 1000
        """
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(priority_discount_cents(
                        CAST(round(o_totalprice * 100) AS BIGINT),
                        o_orderpriority)) AS BIGINT) AS discounted_cents
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )

# --- parameterized SQL surface ---------------------------------------------


@register(
    "sql_parameterized_query",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_totalprice > 1000.0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("sql", "source", "P12"),
    doc="Spark 4 parameterized SQL surface: spark.sql with NAMED "
    "parameter markers (:start, :min_price) bound server-side — the "
    "injection-safe templating every SQL front-end needs (string "
    "interpolation of untrusted values is the alternative). "
    "Parameters bind as typed literals BEFORE analysis, so constant "
    "folding and parquet predicate pushdown see the concrete values "
    "— the oracle is the same query with the literals inlined, "
    "proving the binding is semantically transparent.",
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.sources.catalog import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        WHERE o_orderdate >= :start AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"start": "1996-01-01 00:00:00", "min_price": 1000.0},
    )

# --- k-anonymity audit (round 6) -------------------------------------------

_KANON_K = 5
# Sign-safe floor banding: shift cents far positive so truncating (Spark
# div) == flooring (DuckDB //) — valid for |cents| < 1e13, far beyond
# the acctbal domain.
_KANON_SHIFT = 10**13
_KANON_BAND = 100_000  # $1000 bands of acctbal cents

_KANON_ORACLE = f"""
    WITH qi AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
               (CAST(round(c_acctbal * 100) AS BIGINT) + {_KANON_SHIFT})
                   // {_KANON_BAND} - {_KANON_SHIFT // _KANON_BAND}
                   AS balance_band,
               count(*) AS n_members
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey, segment,
           CAST(balance_band AS BIGINT) AS balance_band,
           CAST(n_members AS BIGINT) AS n_members,
           n_members >= {_KANON_K} AS k_anonymous
    FROM qi
    ORDER BY nationkey, segment, balance_band
"""


@register(
    "privacy_k_anonymity_audit",
    oracle=_KANON_ORACLE,
    tags=("privacy", "quality", "A1"),
    doc="k-anonymity audit over the quasi-identifier tuple (nation, "
    "market segment, $1000 balance band): every equivalence class "
    "with its member count and a k>=5 flag — the re-identification "
    "risk report a release pipeline runs BEFORE publishing, and the "
    "group-level complement to the row-level PII ops "
    "(text_pii_redaction, pii_pseudonymize_consistent): those hide "
    "direct identifiers, this measures whether the remaining "
    "quasi-identifiers still single people out. Banding is "
    "shift-then-divide so truncating and flooring division agree for "
    "negative balances (engine-invariant). One groupBy on the QI "
    "tuple — the same shape at any scale.",
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    band = F.expr(
        f"(cast(round(c_acctbal * 100) as bigint) + {_KANON_SHIFT}L)"
        f" div {_KANON_BAND} - {_KANON_SHIFT // _KANON_BAND}"
    )
    return (
        customer.groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            band.cast("long").alias("balance_band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .withColumn("k_anonymous", F.col("n_members") >= _KANON_K)
        .orderBy("nationkey", "segment", "balance_band")
    )

# --- l-diversity audit -----------------------------------------------------

_LDIV_L = 3

_LDIV_ORACLE = f"""
    WITH qi AS (
        SELECT c_nationkey AS nationkey,
               (CAST(round(c_acctbal * 100) AS BIGINT) + {_KANON_SHIFT})
                   // {_KANON_BAND} - {_KANON_SHIFT // _KANON_BAND}
                   AS balance_band,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
        FROM customer
        GROUP BY 1, 2
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey,
           CAST(balance_band AS BIGINT) AS balance_band,
           n_members, l_distinct,
           l_distinct >= {_LDIV_L} AS l_diverse
    FROM qi
    ORDER BY nationkey, balance_band
"""


@register(
    "privacy_l_diversity_audit",
    oracle=_LDIV_ORACLE,
    tags=("privacy", "quality"),
    doc="l-diversity audit — the attack k-anonymity misses: a class "
    "can have k >= 5 members yet leak the sensitive attribute if "
    "they all SHARE it (homogeneity attack). Here the sensitive "
    "attribute is the market segment, the quasi-identifier is "
    "(nation, $1000 balance band) — k-anonymity's QI minus the "
    "sensitive column — and each class reports its distinct-"
    "sensitive-value count with an l >= 3 flag. Same sign-safe "
    "shift-then-divide banding and one-groupBy shape as the "
    "k-anonymity op; the two audits together are the standard "
    "pre-release privacy pair.",
)
def privacy_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    band = F.expr(
        f"(cast(round(c_acctbal * 100) as bigint) + {_KANON_SHIFT}L)"
        f" div {_KANON_BAND} - {_KANON_SHIFT // _KANON_BAND}"
    )
    return (
        customer.groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            band.cast("long").alias("balance_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.countDistinct("c_mktsegment").cast("long").alias("l_distinct"),
        )
        .withColumn("l_diverse", F.col("l_distinct") >= _LDIV_L)
        .orderBy("nationkey", "balance_band")
    )

# --- functional-dependency discovery ---------------------------------------

# Candidate FDs: (table, lhs, rhs). Mix of true keys, true dependencies,
# and expected failures so the report demonstrates discrimination.
_FD_CANDIDATES = (
    ("nation", "n_nationkey", "n_name"),
    ("nation", "n_name", "n_regionkey"),
    ("nation", "n_regionkey", "n_name"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_suppkey"),
)


def _fd_oracle_sql() -> str:
    arms = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        arms.append(f"""
        SELECT '{tbl}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
               CAST(count(DISTINCT {lhs}) AS BIGINT) AS n_lhs,
               CAST(count(DISTINCT ({lhs}, {rhs})) AS BIGINT) AS n_pairs
        FROM {tbl}""")
    union = " UNION ALL ".join(arms)
    return f"""
        SELECT tbl, lhs, rhs, n_lhs, n_pairs,
               n_pairs = n_lhs AS fd_holds,
               n_pairs - n_lhs AS violating_lhs_values
        FROM ({union})
        ORDER BY tbl, lhs, rhs
    """


@register(
    "schema_fd_discovery",
    oracle=_fd_oracle_sql(),
    tags=("quality", "profile"),
    doc="Functional-dependency discovery (the constraint-mining pass "
    "behind schema normalization, key inference, and data-contract "
    "generation): A -> B holds iff |distinct A| = |distinct (A,B)|, "
    "tested for a candidate battery mixing true keys "
    "(o_orderkey -> o_custkey), true dependencies "
    "(n_name -> n_regionkey), and expected failures "
    "(c_nationkey -> c_mktsegment) so the report discriminates "
    "rather than rubber-stamps; the violation count says HOW broken "
    "a failed candidate is (one overloaded code vs systemic). Each "
    "candidate is one distinct-aggregate over its table — map-side "
    "partial aggregation, no joins, trivially parallel across "
    "candidates at any scale.",
)
def schema_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        arm = t.agg(
            F.countDistinct(lhs).cast("long").alias("n_lhs"),
            F.countDistinct(lhs, rhs).cast("long").alias("n_pairs"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            "n_lhs",
            "n_pairs",
        )
        out = arm if out is None else out.unionByName(arm)
    return out.select(
        "tbl",
        "lhs",
        "rhs",
        "n_lhs",
        "n_pairs",
        (F.col("n_pairs") == F.col("n_lhs")).alias("fd_holds"),
        (F.col("n_pairs") - F.col("n_lhs")).alias("violating_lhs_values"),
    ).orderBy("tbl", "lhs", "rhs")

# --- t-closeness audit -----------------------------------------------------
#
# Completes the canonical release-audit trio: k-anonymity (class size),
# l-diversity (distinct sensitive values), t-closeness (Li et al.) —
# the skewness attack l-diversity misses: a class can hold 3 distinct
# segments yet be 95% BUILDING while the population is 20%, leaking
# probabilistic information. For the categorical sensitive attribute
# the distance is total variation: t_c = 1/2 sum_s |p_c(s) - q(s)|,
# computed EXACTLY by clearing both denominators —
#   sum_s |n_cs * N - n_s * n_c| * 500 div (n_c * N)  (permille)
# with the cross products in the engine's wide-int type (DECIMAL(38,0)
# / HUGEINT) so n_cs * N survives any table size. Zero-count segments
# enter through the class x segment grid (their |0 - n_s * n_c| term
# is what detects skew), built from two broadcast-scale rollups.

_TCLOSE_T_PERMILLE = 200  # flag classes farther than t = 0.2


def _tclose_sql(fdiv: str, big: str) -> str:
    return f"""
        , cs AS (
            SELECT nationkey, balance_band, segment,
                   CAST(count(*) AS BIGINT) AS n_cs
            FROM qi GROUP BY 1, 2, 3
        ), cls AS (
            SELECT nationkey, balance_band,
                   CAST(sum(n_cs) AS BIGINT) AS n_c
            FROM cs GROUP BY 1, 2
        ), seg AS (
            SELECT segment, CAST(sum(n_cs) AS BIGINT) AS n_s FROM cs
            GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n_s) AS BIGINT) AS n FROM seg
        ), grid AS (
            SELECT c.nationkey, c.balance_band, c.n_c, s.segment, s.n_s,
                   COALESCE(x.n_cs, 0) AS n_cs
            FROM cls c
            CROSS JOIN seg s
            LEFT JOIN cs x
              ON x.nationkey = c.nationkey
             AND x.balance_band = c.balance_band
             AND x.segment = s.segment
        ), dist AS (
            SELECT nationkey, balance_band, n_c,
                   CAST(sum(abs(CAST(n_cs AS {big}) * t.n
                                - CAST(n_s AS {big}) * n_c)) * 500
                        {fdiv} (CAST(max(n_c) AS {big}) * max(t.n))
                        AS BIGINT) AS tvd_permille
            FROM grid CROSS JOIN tot t
            GROUP BY nationkey, balance_band, n_c
        )
        SELECT CAST(nationkey AS BIGINT) AS nationkey,
               CAST(balance_band AS BIGINT) AS balance_band,
               n_c AS n_members, tvd_permille,
               tvd_permille <= {_TCLOSE_T_PERMILLE} AS t_close
        FROM dist
        ORDER BY nationkey, balance_band
    """


_TCLOSE_ORACLE = f"""
    WITH qi AS (
        SELECT c_nationkey AS nationkey,
               (CAST(round(c_acctbal * 100) AS BIGINT) + {_KANON_SHIFT})
                   // {_KANON_BAND} - {_KANON_SHIFT // _KANON_BAND}
                   AS balance_band,
               c_mktsegment AS segment
        FROM customer
    )
    {_tclose_sql('//', 'HUGEINT')}
"""


@register(
    "privacy_t_closeness_audit",
    oracle=_TCLOSE_ORACLE,
    tags=("privacy", "quality", "stats"),
    doc="t-closeness audit (Li et al.) — the skewness attack "
    "l-diversity misses: a class with 3 distinct segments that is "
    "95% one segment against a 20% population rate still leaks. "
    "Per (nation, $1000 balance band) class: exact total-variation "
    "distance between the class's segment distribution and the "
    "global one, all denominators cleared by cross-multiplication "
    "(|n_cs*N - n_s*n_c| * 500 div n_c*N on the permille grid, wide-"
    "int products so any table size fits), zero-count segments "
    "included via the class x segment grid — they carry the skew "
    "signal. Flags classes farther than t = 0.2. With k-anonymity "
    "and l-diversity this completes the canonical pre-release "
    "privacy trio; one (class, segment) rollup plus broadcast-scale "
    "segment/total relations.",
)
def privacy_t_closeness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    customer.selectExpr(
        "CAST(c_nationkey AS BIGINT) AS nationkey",
        f"(cast(round(c_acctbal * 100) as bigint) + {_KANON_SHIFT}L)"
        f" div {_KANON_BAND} - {_KANON_SHIFT // _KANON_BAND}"
        " AS balance_band",
        "c_mktsegment AS segment",
    ).createOrReplaceTempView("tclose_qi")
    return spark.sql(
        "WITH qi AS (SELECT * FROM tclose_qi)"
        + _tclose_sql("div", "DECIMAL(38,0)")
    )

# --- cross-table inclusion-dependency discovery ------------------------------
#
# The cross-table complement to schema_fd_discovery (FDs live INSIDE a
# table; INDs are the cross-table join/FK lattice — Bell-Brockhausen /
# SPIDER): for each candidate directed pair A->B over the key-typed
# columns, test value-inclusion distinct(A) subseteq distinct(B) and
# report the violation count and coverage. The battery deliberately
# mixes true FKs, TRUE REVERSE inclusions (every TPC-H order has
# lineitems, so o_orderkey subseteq l_orderkey holds too — a genuine
# discovery a declared-FK audit like fk_integrity_audit never tests),
# and expected failures (c_custkey !subseteq o_custkey: customers
# without orders), so the operator discriminates rather than
# rubber-stamps. Each candidate is distinct-fold -> LEFT ANTI join on
# the key — the shuffle carries DISTINCT keys only, never rows.

_IND_CANDIDATES = (
    # (lhs_table, lhs_col, rhs_table, rhs_col)
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("customer", "c_nationkey", "supplier", "s_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _ind_oracle() -> str:
    arms = "\n        UNION ALL\n".join(
        f"""        SELECT '{lt}.{lc}' AS lhs, '{rt}.{rc}' AS rhs,
               (SELECT CAST(count(DISTINCT {lc}) AS BIGINT) FROM {lt})
                   AS n_lhs_distinct,
               (SELECT CAST(count(*) AS BIGINT) FROM
                   (SELECT DISTINCT {lc} FROM {lt}) a
                   WHERE NOT EXISTS (SELECT 1 FROM {rt} b
                                     WHERE b.{rc} = a.{lc}))
                   AS n_violations"""
        for (lt, lc, rt, rc) in _IND_CANDIDATES
    )
    return f"""
        SELECT lhs, rhs, n_lhs_distinct, n_violations,
               n_violations = 0 AS holds,
               CAST(1000 * (n_lhs_distinct - n_violations)
                    // n_lhs_distinct AS BIGINT) AS coverage_permille
        FROM ({arms})
        ORDER BY lhs, rhs
    """


@register(
    "schema_ind_discovery",
    oracle=_ind_oracle(),
    tags=("quality", "profile"),
    doc="Unary inclusion-dependency discovery over the cross-table "
    "candidate lattice (Bell-Brockhausen / SPIDER): distinct(A) "
    "subseteq distinct(B) tested for 10 directed column pairs mixing "
    "declared FKs, genuine reverse inclusions (o_orderkey subseteq "
    "l_orderkey — every order has lineitems; a declared-FK audit "
    "never finds this), cross-dimension inclusions (c_nationkey "
    "subseteq s_nationkey), and expected failures (c_custkey has "
    "customers without orders). The cross-table complement to "
    "schema_fd_discovery; together they mine the join graph a "
    "data-contract generator needs. Per candidate: distinct-fold "
    "both sides (map-side combinable) then LEFT ANTI on the key — "
    "the shuffle carries DISTINCT key values only, never base rows, "
    "so each arm is bounded by key cardinality at any corpus size.",
)
def schema_ind_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    arms = []
    for lt, lc, rt, rc in _IND_CANDIDATES:
        lhs = (
            load_table(spark, sf_dir, lt).select(F.col(lc).alias("k")).distinct()
        )
        rhs = (
            load_table(spark, sf_dir, rt).select(F.col(rc).alias("k")).distinct()
        )
        # ONE pass per arm: the old anti-join + separate total count
        # computed the lhs DISTINCT twice per arm (the plan carried 60
        # parquet scans across the 10 arms, 0 ReusedExchange). A left
        # join against the distinct rhs (multiplicity 1 by
        # construction) yields both counts from a single aggregate;
        # NULL lhs keys never match in either form (anti-join keeps
        # them / left join leaves the marker NULL), so the counts are
        # identical.
        stats = (
            lhs.join(rhs.withColumn("_hit", F.lit(1)), "k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_lhs_distinct"),
                # count(when(...)) not sum(when(...)): count is 0 over
                # an EMPTY lhs where sum is NULL — the old anti-join
                # count returned 0 there (pinned by the ind_single_pass
                # identity test's empty-lhs case).
                F.count(F.when(F.col("_hit").isNull(), 1))
                .cast("long")
                .alias("n_violations"),
            )
        )
        arms.append(
            stats.select(
                F.lit(f"{lt}.{lc}").alias("lhs"),
                F.lit(f"{rt}.{rc}").alias("rhs"),
                "n_lhs_distinct",
                "n_violations",
                (F.col("n_violations") == 0).alias("holds"),
                F.expr(
                    "CAST(CASE WHEN n_lhs_distinct = 0 THEN NULL"
                    " ELSE 1000 * (n_lhs_distinct - n_violations)"
                    " div n_lhs_distinct END AS BIGINT)"
                ).alias("coverage_permille"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("lhs", "rhs")

# --- differential-privacy budget calibration report --------------------------
#
# Completes the privacy family (k-anonymity / l-diversity /
# t-closeness audit the RELEASE; this audits the MECHANISM): for each
# event_type's count and sum statistics, the USER-LEVEL global
# sensitivity (one user's worst-case contribution — the quantity
# user-level DP must mask, much larger than the row-level 1), the
# Laplace scale b = sensitivity/epsilon for an epsilon grid, and the
# expected relative error |noise|/true in permille. The report is the
# deterministic planning artifact ("is epsilon=0.1 even usable on this
# slice") — it adds NO noise, so it stays oracle-exact; drawing the
# actual Laplace noise is a release-time concern outside the gate.

_DP_EPS_MILLI = (100, 500, 1000)

_DP_ORACLE = f"""
    WITH per_user AS (
        SELECT event_type, user_id,
               CAST(count(*) AS BIGINT) AS n_u,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS s_u
        FROM events GROUP BY event_type, user_id
    ), stats AS (
        SELECT event_type,
               CAST(sum(n_u) AS BIGINT) AS n_events,
               CAST(sum(s_u) AS BIGINT) AS sum_cents,
               CAST(max(n_u) AS BIGINT) AS sens_count,
               CAST(max(abs(s_u)) AS BIGINT) AS sens_sum_cents
        FROM per_user GROUP BY event_type
    ), eps AS (
        SELECT unnest([{", ".join(str(e) for e in _DP_EPS_MILLI)}])
            AS eps_milli
    )
    SELECT s.event_type, e.eps_milli, s.n_events, s.sum_cents,
           s.sens_count, s.sens_sum_cents,
           CAST(s.sens_count * 1000000 // e.eps_milli AS BIGINT)
               AS b_count_milli,
           CAST(s.sens_sum_cents * 1000000 // e.eps_milli AS BIGINT)
               AS b_sum_millicents,
           CAST(s.sens_count * 1000000 // e.eps_milli // s.n_events
                AS BIGINT) AS rel_err_count_permille,
           CASE WHEN s.sum_cents = 0 THEN NULL
                ELSE CAST(s.sens_sum_cents * 1000000 // e.eps_milli
                          // abs(s.sum_cents) AS BIGINT)
           END AS rel_err_sum_permille
    FROM stats s CROSS JOIN eps e
    ORDER BY s.event_type, e.eps_milli
"""


@register(
    "privacy_dp_sensitivity_report",
    oracle=_DP_ORACLE,
    tags=("privacy", "quality", "stats"),
    doc="Differential-privacy budget calibration report per event "
    "type: USER-LEVEL global sensitivity of the count and sum "
    "statistics (one user's worst-case contribution — what user-level "
    "DP must mask; the row-level sensitivity 1 badly underestimates "
    "it on power users), Laplace scale b = sensitivity/epsilon over "
    "an epsilon grid (0.1/0.5/1.0), and the expected relative error "
    "b/true in permille — the 'is this epsilon usable on this slice' "
    "planning artifact. Deliberately adds NO noise (a noised release "
    "can't be oracle-gated; noise is a release-time concern): the "
    "report itself is deterministic and exact. One map-combinable "
    "per-user rollup, one per-type max/sum, a 3-row broadcast "
    "epsilon grid; O(types * eps) output at any scale. Completes "
    "the privacy family: k-anonymity/l-diversity/t-closeness audit "
    "the release shape, this audits the mechanism budget.",
)
def privacy_dp_sensitivity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_u"),
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
        ).alias("s_u"),
    )
    stats = per_user.groupBy("event_type").agg(
        F.sum("n_u").cast("long").alias("n_events"),
        F.sum("s_u").cast("long").alias("sum_cents"),
        F.max("n_u").cast("long").alias("sens_count"),
        F.max(F.abs("s_u")).cast("long").alias("sens_sum_cents"),
    )
    eps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(e) for e in _DP_EPS_MILLI])
        ).alias("eps_milli")
    )
    return (
        stats.crossJoin(F.broadcast(eps))
        .select(
            "event_type",
            F.col("eps_milli").cast("int").alias("eps_milli"),
            "n_events",
            "sum_cents",
            "sens_count",
            "sens_sum_cents",
            F.expr(
                "CAST(sens_count * 1000000 div eps_milli AS BIGINT)"
            ).alias("b_count_milli"),
            F.expr(
                "CAST(sens_sum_cents * 1000000 div eps_milli AS BIGINT)"
            ).alias("b_sum_millicents"),
            F.expr(
                "CAST(sens_count * 1000000 div eps_milli div n_events"
                " AS BIGINT)"
            ).alias("rel_err_count_permille"),
            F.expr(
                "CASE WHEN sum_cents = 0 THEN NULL"
                " ELSE CAST(sens_sum_cents * 1000000 div eps_milli"
                "      div abs(sum_cents) AS BIGINT) END"
            ).alias("rel_err_sum_permille"),
        )
        .orderBy("event_type", "eps_milli")
    )

# --- candidate-key (uniqueness) discovery --------------------------------------
#
# Completes the profiling trio: schema_fd_discovery mines
# within-table dependencies, schema_ind_discovery the cross-table
# join lattice, and this pass mines the KEYS — per candidate column:
# distinct count, null count, uniqueness ratio, and the is_key
# verdict (unique AND non-null). The battery mixes true PKs, true
# non-keys, an FK (high-cardinality non-key), and a composite check
# (lineitem needs (orderkey, linenumber) — each alone fails, the
# pair passes), so the report discriminates. Every arm is one
# map-side-combinable distinct/count aggregate per table scan.

_KEYD_CANDIDATES = (
    ("customer", "c_custkey"),
    ("customer", "c_nationkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_orderkey || '#' || l_linenumber"),
    ("events", "event_id"),
    ("documents", "doc_id"),
)


def _keyd_oracle() -> str:
    arms = []
    for table, col in _KEYD_CANDIDATES:
        label = col.replace(" || '#' || ", "+")
        arms.append(f"""        SELECT '{table}' AS table_name,
               '{label}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST(count(*) - count({col}) AS BIGINT) AS n_nulls
        FROM {table}""")
    u = "\n        UNION ALL\n".join(arms)
    return f"""
        SELECT table_name, column_name, n_rows, n_distinct, n_nulls,
               n_distinct = n_rows AND n_nulls = 0 AS is_key,
               CAST(1000 * n_distinct // n_rows AS BIGINT)
                   AS uniqueness_permille
        FROM ({u})
        ORDER BY table_name, column_name
    """


@register(
    "schema_key_discovery",
    oracle=_keyd_oracle(),
    tags=("quality", "profile"),
    doc="Candidate-key discovery over a 10-column battery spanning "
    "all six relational tables plus events/documents: per candidate, "
    "distinct count, null count, uniqueness permille, and the is_key "
    "verdict (unique AND non-null). Deliberately mixes true PKs, a "
    "low-cardinality non-key (c_nationkey), a high-cardinality FK "
    "that is NOT a key (o_custkey), and the composite probe "
    "(l_orderkey alone vs l_orderkey+l_linenumber) — which on THIS "
    "fixture exposes a genuine data-quality fact: the synthetic "
    "generator does not enforce TPC-H's composite PK (duplicate "
    "pairs exist), and the profiler reports it instead of assuming "
    "the textbook schema. Completes the "
    "profiling trio with schema_fd_discovery (within-table) and "
    "schema_ind_discovery (cross-table). Each arm is one "
    "map-side-combinable distinct/count aggregate; shuffles carry "
    "distinct values only, bounded by key cardinality.",
)
def schema_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    arms = []
    for table, col in _KEYD_CANDIDATES:
        label = col.replace(" || '#' || ", "+")
        df = load_table(spark, sf_dir, table)
        arms.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.expr(f"CAST(count(DISTINCT {col}) AS BIGINT)").alias(
                    "n_distinct"
                ),
                F.expr(
                    f"CAST(count(1) - count({col}) AS BIGINT)"
                ).alias("n_nulls"),
            ).select(
                F.lit(table).alias("table_name"),
                F.lit(label).alias("column_name"),
                "n_rows",
                "n_distinct",
                "n_nulls",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.select(
        "table_name",
        "column_name",
        "n_rows",
        "n_distinct",
        "n_nulls",
        (
            (F.col("n_distinct") == F.col("n_rows"))
            & (F.col("n_nulls") == 0)
        ).alias("is_key"),
        F.expr(
            "CAST(CASE WHEN n_rows = 0 THEN NULL"
            " ELSE 1000 * n_distinct div n_rows END AS BIGINT)"
        ).alias("uniqueness_permille"),
    ).orderBy("table_name", "column_name")

# --- synthetic-data fidelity audit -----------------------------------------------
#
# The QA gate for synthetic/perturbed data releases: generate a
# deterministic synthetic twin of the customer table IN-QUERY (acctbal
# cents jittered by an md5 noise within +-5%, mktsegment re-drawn from
# the md5 stream for 10% of rows) and measure how far its marginals
# drift — total-variation distance of the segment distribution, TVD
# of the 16-band balance histogram, and the mean-balance drift, all
# exact permille. The generator is part of the query, so the audit is
# oracle-exact end to end (noise is a deterministic hash, not RNG);
# swap in a real synthesizer's output table and the audit half is
# unchanged. This is the fidelity half of a privacy release flow —
# the DP budget report prices the mechanism, this measures what the
# perturbation did to the statistics.


def _synthfid_oracle() -> str:
    return """
        WITH base AS (
            SELECT c_custkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                   c_mktsegment AS seg
            FROM customer
        ), synth AS (
            SELECT c_custkey,
                   cents + (CAST(('0x' || substr(md5('jit:'
                        || CAST(c_custkey AS VARCHAR)), 1, 8))
                        AS BIGINT) % (2 * (abs(cents) // 20 + 1)))
                   - (abs(cents) // 20 + 1) + 1 AS cents,
                   CASE WHEN CAST(('0x' || substr(md5('swap:'
                             || CAST(c_custkey AS VARCHAR)), 1, 8))
                             AS BIGINT) % 100 < 10
                        THEN (SELECT seg FROM (
                                 SELECT seg,
                                        row_number() OVER (ORDER BY seg)
                                            AS i
                                 FROM (SELECT DISTINCT seg FROM base)) s
                              WHERE s.i = 1 + CAST(('0x' || substr(
                                    md5('pick:' || CAST(b.c_custkey
                                    AS VARCHAR)), 1, 8)) AS BIGINT)
                                    % (SELECT count(DISTINCT seg)
                                       FROM base))
                        ELSE seg
                   END AS seg
            FROM base b
        ), seg_o AS (
            SELECT seg, CAST(count(*) AS BIGINT) AS c FROM base
            GROUP BY seg
        ), seg_s AS (
            SELECT seg, CAST(count(*) AS BIGINT) AS c FROM synth
            GROUP BY seg
        ), seg_tvd AS (
            SELECT CAST(500 * sum(abs(COALESCE(o.c, 0)
                                      - COALESCE(s.c, 0)))
                        // (SELECT count(*) FROM base) AS BIGINT) AS v
            FROM seg_o o FULL OUTER JOIN seg_s s ON s.seg = o.seg
        ), bands AS (
            SELECT CAST(min(cents) AS BIGINT) AS lo,
                   CAST(max(cents) - min(cents) + 1 AS BIGINT) AS span
            FROM base
        ), hb_o AS (
            SELECT (cents - b.lo) * 16 // b.span AS band,
                   CAST(count(*) AS BIGINT) AS c
            FROM base CROSS JOIN bands b GROUP BY 1
        ), hb_s AS (
            SELECT least(greatest((cents - b.lo) * 16 // b.span, 0),
                         15) AS band,
                   CAST(count(*) AS BIGINT) AS c
            FROM synth CROSS JOIN bands b GROUP BY 1
        ), band_tvd AS (
            SELECT CAST(500 * sum(abs(COALESCE(o.c, 0)
                                      - COALESCE(s.c, 0)))
                        // (SELECT count(*) FROM base) AS BIGINT) AS v
            FROM hb_o o FULL OUTER JOIN hb_s s ON s.band = o.band
        ), mean_drift AS (
            SELECT CAST(abs((SELECT sum(cents) FROM synth)
                            - (SELECT sum(cents) FROM base)) * 1000
                        // greatest(abs((SELECT sum(cents) FROM base)),
                                    1) AS BIGINT) AS v
        )
        SELECT 'mktsegment_tvd' AS metric,
               (SELECT v FROM seg_tvd) AS value_permille,
               (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_rows
        UNION ALL
        SELECT 'acctbal_band16_tvd', (SELECT v FROM band_tvd),
               (SELECT count(*) FROM base)
        UNION ALL
        SELECT 'acctbal_mean_drift', (SELECT v FROM mean_drift),
               (SELECT count(*) FROM base)
        ORDER BY metric
    """


@register(
    "privacy_synthetic_fidelity_audit",
    oracle=_synthfid_oracle(),
    tags=("privacy", "quality", "stats"),
    doc="Synthetic-data fidelity audit: a deterministic synthetic twin "
    "of customer is generated IN-QUERY (md5 jitter within +-5% of "
    "each balance, 10% of segments re-drawn from the md5 stream) and "
    "its marginal drift measured exactly — total-variation distance "
    "of the segment distribution, TVD of the 16-band balance "
    "histogram (synthetic values clamped into the original's band "
    "range), and relative mean drift, all permille. The generator "
    "is a deterministic hash, so the whole release-QA loop sits "
    "inside the oracle gate; swapping in a real synthesizer's table "
    "keeps the audit half unchanged. Fidelity is the counterpart of "
    "privacy_dp_sensitivity_report's budget pricing: small TVD + "
    "small drift = the perturbation preserved the statistics. "
    "Shape: two scans of one dim table, per-marginal rollups joined "
    "full-outer on the category key; O(segments + bands) state.",
)
def privacy_synthetic_fidelity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    distinct_segs = base.select("seg").distinct()
    # rank the enum-sized segment list via the broadcast triangular
    # join (house pattern — no single-partition window even on tiny
    # relations)
    segs = (
        distinct_segs.join(
            F.broadcast(
                distinct_segs.select(F.col("seg").alias("o_seg"))
            ),
            F.col("o_seg") < F.col("seg"),
            "left",
        )
        .groupBy("seg")
        .agg((F.count("o_seg") + 1).cast("int").alias("i"))
    )
    n_segs = F.broadcast(
        base.agg(F.countDistinct("seg").cast("long").alias("ns"))
    )
    synth = (
        base.crossJoin(n_segs)
        .join(
            F.broadcast(
                segs.select(
                    F.col("i").alias("pick_i"),
                    F.col("seg").alias("pick_seg"),
                )
            ),
            F.expr(
                "pick_i = 1 + CAST(conv(substr(md5(concat('pick:',"
                " CAST(c_custkey AS STRING))), 1, 8), 16, 10)"
                " AS BIGINT) % ns"
            ),
            "left",
        )
        .select(
            "c_custkey",
            F.expr(
                "cents + (CAST(conv(substr(md5(concat('jit:',"
                " CAST(c_custkey AS STRING))), 1, 8), 16, 10)"
                " AS BIGINT) % (2 * (abs(cents) div 20 + 1)))"
                " - (abs(cents) div 20 + 1) + 1"
            ).alias("cents"),
            F.expr(
                "CASE WHEN CAST(conv(substr(md5(concat('swap:',"
                " CAST(c_custkey AS STRING))), 1, 8), 16, 10)"
                " AS BIGINT) % 100 < 10 THEN pick_seg ELSE seg END"
            ).alias("seg"),
        )
    )
    n_rows = F.broadcast(
        base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    )

    def tvd(o, s, key):
        oc = o.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("oc"))
        sc = s.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("sc"))
        return (
            oc.join(sc, key, "full_outer")
            .crossJoin(n_rows)
            .agg(
                F.expr(
                    "CAST(500 * sum(abs(COALESCE(oc, 0)"
                    " - COALESCE(sc, 0))) div max(n) AS BIGINT)"
                ).alias("v")
            )
        )

    seg_tvd = tvd(base, synth, "seg")
    bands = F.broadcast(
        base.agg(
            F.min("cents").cast("long").alias("lo"),
            F.expr(
                "CAST(max(cents) - min(cents) + 1 AS BIGINT)"
            ).alias("span"),
        )
    )
    hb_o = base.crossJoin(bands).select(
        F.expr("(cents - lo) * 16 div span").alias("band")
    )
    hb_s = synth.crossJoin(bands).select(
        F.expr(
            "least(greatest((cents - lo) * 16 div span, 0), 15)"
        ).alias("band")
    )
    band_tvd = tvd(hb_o, hb_s, "band")
    sums = F.broadcast(
        base.agg(F.sum("cents").cast("long").alias("so"))
    )
    mean_drift = (
        synth.agg(F.sum("cents").cast("long").alias("ss"))
        .crossJoin(sums)
        .select(
            F.expr(
                "CAST(abs(ss - so) * 1000 div greatest(abs(so), 1)"
                " AS BIGINT)"
            ).alias("v")
        )
    )
    out = (
        seg_tvd.select(
            F.lit("mktsegment_tvd").alias("metric"),
            F.col("v").alias("value_permille"),
        )
        .unionByName(
            band_tvd.select(
                F.lit("acctbal_band16_tvd").alias("metric"),
                F.col("v").alias("value_permille"),
            )
        )
        .unionByName(
            mean_drift.select(
                F.lit("acctbal_mean_drift").alias("metric"),
                F.col("v").alias("value_permille"),
            )
        )
    )
    return (
        out.crossJoin(n_rows)
        .select("metric", "value_permille", F.col("n").alias("n_rows"))
        .orderBy("metric")
    )
