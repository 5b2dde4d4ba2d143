"""Relational closure over the star schema (SURVEY.md §2.7 "engine
surface to build"): scan/project/filter, equi-joins (broadcast + semi +
anti), hash aggregation, window ranking/frames, rollup, set ops,
sort/limit, pivot.

The reference's only join-like operator is the D3 state lookup
(index.js:107-141) — a left-semi/left-anti probe against table state —
so the semi/anti queries here are its direct batch analogs; the rest is
the closure needed to express real queries over the tables.

Scale notes: dimension joins (region/nation/customer at TPC-H ratios)
are explicitly `broadcast()` so the fact scan never shuffles for them;
fact-fact joins (orders x lineitem) rely on AQE + sort-merge on the
join key. Aggregates use decimal sums: exact, deterministic, and still
map-side-combined. Derived averages divide the exact decimal by the
count (one IEEE division — deterministic in every engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from dynamodb_stream_processor_2_0_spark.plans.registry import register
from dynamodb_stream_processor_2_0_spark.sources import formats
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


def _dec(col: str, prec: int = 18, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({prec},{scale})")


# revenue = extendedprice * (1 - discount), computed in exact decimal:
# both factors are rounded to fixed scale first so Spark and DuckDB
# perform the identical decimal multiplication.
def _revenue() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,4)") - F.col("l_discount").cast("decimal(12,4)"))


_REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))"

# Output-boundary rule (driver gate): aggregate in exact decimal, but
# surface DOUBLE — DuckDB->pandas decays DECIMAL to float64 while Spark
# keeps Decimal objects, so a decimal-typed output column can never
# hash-match. Both engines cast the identical exact decimal, so the
# resulting doubles are bit-equal.
_SUM_REVENUE_DBL = f"CAST(sum({_REVENUE_SQL}) AS DOUBLE)"


def _sum_dbl(col: str) -> F.Column:
    return F.sum(_dec(col)).cast("double")


def _sum_dbl_sql(col: str) -> str:
    return f"CAST(sum(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {_sum_dbl_sql("l_quantity")} AS sum_qty,
               {_sum_dbl_sql("l_extendedprice")} AS sum_base_price,
               {_SUM_REVENUE_DBL} AS sum_disc_price,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("relational", "A1"),
    doc="TPC-H Q1-style pricing summary: scan -> pushed filter -> hash agg.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_dbl("l_quantity").alias("sum_qty"),
            _sum_dbl("l_extendedprice").alias("sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
        SELECT o.o_orderkey, {_SUM_REVENUE_DBL} AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    tags=("relational",),
    doc="TPC-H Q3-style: 3-way join, agg, top-N with deterministic tiebreak.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle=f"""
        SELECT n.n_name, {_SUM_REVENUE_DBL} AS revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
    """,
    tags=("relational",),
    doc="TPC-H Q5-style: star join with broadcast dimensions.",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "semi_join_customers_with_orders",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 100000)
    """,
    tags=("relational", "D3", "S2"),
    doc="Left-semi join: the D3 'duplicate exists' probe as a set operator (index.js:107-141).",
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_join_customers_without_orders",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 100000)
    """,
    tags=("relational", "D3"),
    doc="Left-anti join: the D3 'no duplicate -> proceed' branch (index.js:227-244).",
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "topk_orders_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    tags=("relational", "P9"),
    doc="Honest top-K per group (window rank) — the explicit version of P9's slice (index.js:529).",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_sum",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS running_spend,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS order_seq
        FROM orders
    """,
    tags=("relational",),
    doc="Window frame: per-customer running spend in exact decimal.",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "rollup_returnflag_status",
    oracle="""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("relational",),
    doc="Grouping-sets rollup with subtotal rows.",
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _sum_dbl("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


@register(
    "set_ops_customer_segments",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
    tags=("relational",),
    doc="Set operations: UNION / EXCEPT over key sets.",
)
def set_ops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    negative = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return building.union(auto).distinct().exceptAll(negative.distinct())


@register(
    "sort_limit_top_orders",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    tags=("relational",),
    doc="Global sort + limit (TakeOrderedAndProject — no full sort at scale).",
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "agg_having_priorities",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_spend
        FROM orders
        WHERE o_orderstatus <> 'F'
        GROUP BY o_orderpriority
        HAVING count(*) > 5
        ORDER BY o_orderpriority
    """,
    tags=("relational",),
    doc="Hash aggregation + HAVING post-filter.",
)
def agg_having_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_dbl("o_totalprice").alias("total_spend"),
        )
        .filter(F.col("n_orders") > 5)
        .orderBy("o_orderpriority")
    )


@register(
    "pivot_status_by_priority",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("relational",),
    doc="Pivot: order-status counts per priority (fixed pivot values -> one pass).",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               {_SUM_REVENUE_DBL} AS revenue
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    tags=("relational",),
    doc="TPC-H Q7-style volume shipping: 5-way join with a symmetric nation-pair predicate, yearly revenue.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join: fact scan joins two broadcast dimension chains; the
    nation-pair disjunction is applied after both nation names are in
    scope (post-join residual — same place DuckDB evaluates it)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q10_returned_items",
    oracle=f"""
        SELECT c.c_custkey, c.c_name, {_SUM_REVENUE_DBL} AS revenue,
               c.c_acctbal, n.n_name, c.c_mktsegment
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY 1, 2, 4, 5, 6
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("relational",),
    doc="TPC-H Q10-style returned items: selective fact filter, 4-way join, top-20 customers by lost revenue.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l_returnflag filter is pushed to the parquet scan; customer
    and nation broadcast; the deterministic (revenue DESC, c_custkey)
    order makes the LIMIT stable across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "agg_value_percentiles",
    oracle="""
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90,
               quantile_cont(value, 0.99) AS p99,
               count(*) AS n
        FROM events
        GROUP BY event_type
    """,
    tags=("relational", "agg"),
    doc="Exact linear-interpolation percentiles per group (Spark percentile == DuckDB quantile_cont bit-for-bit).",
)
def agg_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles: both engines sort and linearly interpolate
    with the same formula, so doubles match bit-exactly. At 100 TB the
    exact sort-based percentile is the wrong tool — swap in
    approx_percentile (t-digest) and drop the oracle to rows-only."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "skew_salted_agg",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               max(value) AS max_value
        FROM events
        GROUP BY event_type
    """,
    tags=("relational", "skew", "scale"),
    doc="Hot-key aggregation via deterministic salting: phase 1 spreads each key over 16 reducers, phase 2 merges partials; result identical to the direct groupBy.",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_type has ~5 distinct values over the whole table — the
    textbook hot-key aggregation. The salted two-phase plan bounds any
    single reducer at |table|/n_salts rows; the oracle is the plain
    GROUP BY, proving the rewrite is semantics-preserving."""
    from dynamodb_stream_processor_2_0_spark.operators.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events")
    return salted_aggregate(
        ev,
        keys=["event_type"],
        entropy_col="event_id",
        n_salts=16,
        partial={
            "p_n": F.count(F.lit(1)),
            "p_sum": F.sum(F.col("value").cast("decimal(18,2)")),
            "p_max": F.max("value"),
        },
        final={
            "n_events": F.sum("p_n"),
            "sum_value": F.sum("p_sum").cast("double"),
            "max_value": F.max("p_max"),
        },
    )


# One SQL string, two engines: runs verbatim through spark.sql AND as
# the DuckDB oracle — the engine's SQL front-end speaks the shared ANSI
# subset (decimal sums keep the floats deterministic).
_SHARED_ANSI_SQL = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
"""


@register(
    "sql_api_shared_dialect",
    oracle=_SHARED_ANSI_SQL,
    tags=("relational", "sql-api"),
    doc="SQL front-end: the exact same ANSI SQL string is executed by spark.sql and by the DuckDB oracle.",
)
def sql_api_shared_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SHARED_ANSI_SQL)


_GROUP_BY_ALL_SQL = """
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@register(
    "sql_group_by_all_dialect",
    oracle=_GROUP_BY_ALL_SQL,
    tags=("relational", "sql-api"),
    doc="SQL front-end: GROUP BY ALL + ORDER BY ALL (the Spark 4 / "
    "DuckDB shared dialect extension — grouping keys inferred as "
    "every non-aggregate select item, ordering over the full select "
    "list) — the SAME string runs on both engines, proving the "
    "dialect feature is semantically transparent the way the "
    "parameterized-query and pipe-syntax entries do for theirs. "
    "Plan: identical to the explicit GROUP BY (one partial-agg "
    "shuffle); ALL resolution happens entirely in the analyzer.",
)
def sql_group_by_all_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


@register(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("relational",),
    doc="TPC-H Q6-style forecast revenue: pure scan-filter-aggregate; every predicate reaches the parquet scan.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(12,4)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q4_order_priority",
    oracle="""
        SELECT o.o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    tags=("relational", "S2"),
    doc="TPC-H Q4-style order priority checking: EXISTS subquery compiled to a left-semi join.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS -> left-semi join on l_orderkey with the late-ship
    residual; only order keys shuffle, lineitem payload stays put."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
        SELECT CAST(100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                          THEN {_REVENUE_SQL} END) AS DOUBLE)
                   / CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS DOUBLE) AS promo_pct,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
    tags=("relational",),
    doc="TPC-H Q14-style promo revenue share: broadcast part join, conditional decimal sums, one float division at the boundary.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type").like("PROMO%"), _revenue())
    ).cast("double")
    return joined.agg(
        (F.lit(100.0) * promo / F.sum(_revenue()).cast("double")).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "approx_stats_scale_path",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS users_within_5pct,
               TRUE AS p50_within_band,
               TRUE AS p99_within_band
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("relational", "scale", "sketch"),
    doc="The 100 TB drop-in for exact distinct/percentiles: HLL++ approx_count_distinct "
    "and KLL approx_percentile, gated by deterministic error bounds so the entry carries "
    "a full oracle. The sketch VALUES are engine-specific (DuckDB cannot reproduce them), "
    "so the contract pins what IS portable: the exact group stats plus boolean assertions "
    "that each sketch lands inside its documented error band (HLL rsd=0.02 -> +/-5% = "
    "2.5 sigma; percentile_approx accuracy=10000 -> rank error n/10000, asserted against "
    "an exact-percentile band 4500x wider). The oracle states the bands hold (TRUE "
    "constants) and DuckDB independently recomputes the exact columns; a drifting sketch "
    "flips a boolean and fails the hash gate.",
)
def approx_stats_scale_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregation: single pass, fixed-size state per
    group regardless of cardinality — the shape that replaces exact
    distinct/percentile at 100 TB (SCALE.md §5). The exact twins
    (count_distinct / percentile) run here only to VERIFY the sketch;
    at 100 TB the verification columns drop and the sketch stands
    alone — that is the point of the operator."""
    ev = load_table(spark, sf_dir, "events")
    # One sketch pass per group + the exact verification stats in the
    # same aggregate (no second shuffle); the percentile array is
    # flattened because nested outputs crash the driver canonicalizer.
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx_users"),
        F.percentile_approx("value", [0.5, 0.99], 10000).alias("_pcts"),
        F.percentile(
            F.col("value"), F.array(F.lit(0.45), F.lit(0.55), F.lit(0.97))
        ).alias("_bands"),
        F.max("value").alias("_hi99"),
    )
    return (
        agg.select(
            "event_type",
            "n",
            "exact_users",
            (
                F.abs(F.col("_approx_users") - F.col("exact_users")) * 20
                <= F.col("exact_users")
            ).alias("users_within_5pct"),
            (
                (F.col("_pcts")[0] >= F.col("_bands")[0])
                & (F.col("_pcts")[0] <= F.col("_bands")[1])
            ).alias("p50_within_band"),
            (
                (F.col("_pcts")[1] >= F.col("_bands")[2])
                & (F.col("_pcts")[1] <= F.col("_hi99"))
            ).alias("p99_within_band"),
        )
        .orderBy("event_type")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
        WITH avg_qty AS (
            SELECT l_partkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       / count(*) AS aq
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / 7.0 AS avg_yearly,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN avg_qty a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < 0.2 * a.aq
    """,
    tags=("relational", "subquery"),
    doc="TPC-H Q17-style small-quantity revenue: correlated scalar subquery decorrelated into a pre-aggregated self-join.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated `l_quantity < 0.2 * avg(per part)` subquery is
    decorrelated by hand into a per-part pre-aggregation joined back —
    the plan Catalyst produces for the SQL form, stated explicitly.
    The decimal-exact average divides once into a double, so the
    threshold comparison is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("aq")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_volume_customer",
    oracle="""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_qty
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN big ON big.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 20
    """,
    tags=("relational", "subquery"),
    doc="TPC-H Q18-style large-volume customers: HAVING-filtered semi-join back into the fact, stable top-20.",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        # big is NOT marked broadcast: the HAVING survivors scale with the
        # data (unlike dims), so let AQE pick broadcast only when it fits.
        .join(big, orders.o_orderkey == F.col("big_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_sum_dbl("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "cube_priority_status",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    tags=("relational", "cube"),
    doc="CUBE over (priority, status): all 2^2 grouping sets in one pass (Expand + single hash agg).",
)
def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_dbl("o_totalprice").alias("total_price"),
    )


@register(
    "q8_national_market_share",
    oracle=f"""
        WITH all_nations AS (
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   {_REVENUE_SQL} AS volume,
                   n2.n_name AS supp_nation
            FROM part p
            JOIN lineitem l ON l.l_partkey = p.p_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = n1.n_regionkey
            JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
            WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
        )
        SELECT o_year,
               CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume END)
                    AS DOUBLE)
                   / CAST(sum(volume) AS DOUBLE) AS mkt_share,
               count(*) AS n_items
        FROM all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    tags=("relational",),
    doc="TPC-H Q8-style national market share: 7-way star join, conditional decimal share, one boundary division per year.",
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", _revenue())
    ).cast("double") / F.sum(_revenue()).cast("double")
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(share.alias("mkt_share"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("o_year")
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ), ranked AS (
            SELECT p.l_partkey, p.l_suppkey, s.s_name, s.s_acctbal,
                   ROW_NUMBER() OVER (PARTITION BY p.l_partkey
                                      ORDER BY s.s_acctbal, s.s_suppkey) AS rn
            FROM pairs p JOIN supplier s ON s.s_suppkey = p.l_suppkey
        )
        SELECT r.l_partkey AS p_partkey, pt.p_brand, r.l_suppkey AS s_suppkey,
               r.s_name, r.s_acctbal
        FROM ranked r
        JOIN part pt ON pt.p_partkey = r.l_partkey
        WHERE r.rn = 1 AND pt.p_size <= 10
    """,
    tags=("relational", "subquery"),
    doc="TPC-H Q2-style min-cost supplier: the correlated MIN subquery decorrelated "
    "into a per-part window rank over the observed (part, supplier) pairs.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic `cost = (SELECT min(...) WHERE partkey = outer)`
    pattern as a window: rank suppliers per part by (acctbal, suppkey)
    and keep rank 1. One shuffle on partkey; the supplier dim is
    broadcast. The deterministic suppkey tiebreak makes the pick stable
    across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    w = W.partitionBy("l_partkey").orderBy("s_acctbal", "s_suppkey")
    ranked = (
        pairs.join(F.broadcast(supp), pairs.l_suppkey == supp.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        ranked.join(F.broadcast(part), ranked.l_partkey == part.p_partkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "s_acctbal",
        )
    )


@register(
    "q13_order_count_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON o.o_custkey = c.c_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("relational", "outer-join"),
    doc="TPC-H Q13-style customer order-count distribution: LEFT OUTER join "
    "(zero-order customers kept), two-level aggregation.",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(o_orderkey) over a left join counts only matched rows, so
    customers with no qualifying orders land in the c_count=0 bucket —
    the outer-join semantics the inner-join q3 family can't express."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q16_supplier_variety",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT pr.l_suppkey) AS supplier_cnt
        FROM pairs pr
        JOIN part p ON p.p_partkey = pr.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type NOT LIKE 'PROMO%'
          AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
          AND pr.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("relational", "subquery", "distinct-agg"),
    doc="TPC-H Q16-style supplier variety: NOT IN anti-subquery, IN-list size "
    "filter, count(DISTINCT) per (brand, type, size).",
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN compiles to a left-anti join against the excluded
    supplier set (broadcast — it's a filtered dim). The distinct-agg
    keeps countDistinct here: groups are (brand,type,size)-wide so the
    Expand doubling is tiny, unlike the global-key case where the
    two-stage rewrite wins (see disposition_summary)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin([1, 5, 9, 13, 17, 21, 25, 29])
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 13 == 0)
        .select("s_suppkey")
    )
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(
            F.broadcast(excluded),
            pairs.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
        SELECT CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("relational", "predicate"),
    doc="TPC-H Q19-style disjunctive predicates: OR-of-ANDs band filter across "
    "the join, single aggregated result.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The disjunction references both sides, so it's a post-join
    residual — but each disjunct's part-side half (brand + size) prunes
    the broadcast build side, and Catalyst pushes the OR of l_quantity
    bands to the fact scan as a range union."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
        WITH threshold AS (
            SELECT CAST(avg(c_acctbal) AS DOUBLE) AS t
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_mktsegment,
               count(*) AS numcust,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS totacctbal
        FROM customer c, threshold
        WHERE c.c_acctbal > threshold.t
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 480000
          )
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    tags=("relational", "subquery"),
    doc="TPC-H Q22-style idle rich customers: scalar-aggregate threshold "
    "subquery + NOT EXISTS anti-join (no order over 480k), per-segment totals.",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar subquery is computed once and cross-joined (a 1-row
    broadcast — the distributed form of a scalar); NOT EXISTS is a
    left-anti join on custkey. avg() is sum/count over doubles in both
    engines — Spark and DuckDB both compute avg with a Kahan-free
    single-pass sum, and the test values are 2-decimal, so the
    threshold double is bit-identical."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 480000
    )
    # exact decimal mean: sum in decimal, one double division
    t = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))
            ).alias("t")
        )
    )
    return (
        cust.join(F.broadcast(t))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _sum_dbl("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey, CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM rev r
        JOIN supplier s ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s.s_suppkey
    """,
    tags=("relational", "subquery"),
    doc="TPC-H Q15-style top supplier: quarterly revenue per supplier, kept "
    "where equal to the global max (scalar-aggregate reuse of a derived view).",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived `rev` view is built once and probed twice (per-key
    rows + its global max); the max is a 1-row broadcast. Revenue is
    cast to double only after the exact decimal sum, so the equality
    test against the max compares identical doubles on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_revenue()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "full_outer_nation_balance",
    oracle="""
        WITH cb AS (
            SELECT c_nationkey AS nk,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS cust_bal,
                   count(*) AS n_cust
            FROM customer GROUP BY c_nationkey
        ), sb AS (
            SELECT s_nationkey AS nk,
                   CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS supp_bal,
                   count(*) AS n_supp
            FROM supplier GROUP BY s_nationkey
        )
        SELECT COALESCE(cb.nk, sb.nk) AS nationkey,
               cb.cust_bal, cb.n_cust, sb.supp_bal, sb.n_supp
        FROM cb FULL OUTER JOIN sb ON cb.nk = sb.nk
    """,
    tags=("relational", "outer-join"),
    doc="FULL OUTER JOIN: per-nation customer vs supplier balance totals, "
    "nations present on either side kept with NULLs on the missing side.",
)
def full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    cb = cust.groupBy(F.col("c_nationkey").alias("cnk")).agg(
        _sum_dbl("c_acctbal").alias("cust_bal"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    sb = supp.groupBy(F.col("s_nationkey").alias("snk")).agg(
        _sum_dbl("s_acctbal").alias("supp_bal"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    return cb.join(sb, cb.cnk == sb.snk, "full_outer").select(
        F.coalesce("cnk", "snk").alias("nationkey"),
        "cust_bal",
        "n_cust",
        "supp_bal",
        "n_supp",
    )


@register(
    "q9_profit_by_nation_year",
    oracle=f"""
        SELECT n.n_name AS nation,
               EXTRACT(year FROM o.o_orderdate) AS o_year,
               {_SUM_REVENUE_DBL} AS sum_profit
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    tags=("relational", "join", "A1"),
    doc="TPC-H Q9-shaped profit rollup (the test schema has no partsupp, "
    "so profit is discounted revenue): lineitem x part(name filter) x "
    "supplier x nation x orders, grouped by nation and order year. "
    "Reference analog: the multi-table enrichment the D3 lookup family "
    "implies (index.js:107-141) generalized to a 5-way join.",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part/supplier/nation are all dimension-sized -> broadcast, so the
    only shuffle is lineitem x orders on orderkey (sort-merge under AQE);
    the p_name filter is applied before the broadcast so the hash table
    ships only matching parts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q12_ship_delay_priority",
    oracle="""
        SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) >= 90
                    THEN 'late' ELSE 'ontime' END AS delay_class,
               count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
                   AS high_line_count,
               count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                   AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY delay_class
        ORDER BY delay_class
    """,
    tags=("relational", "join", "A1", "P10"),
    doc="TPC-H Q12-shaped priority-by-delay count (no l_shipmode/"
    "commitdate in the test schema, so the mode column is replaced by a "
    "computed ship-delay class): orders x lineitem with conditional "
    "counts — the reference's priority routing (index.js:563) as a "
    "grouped aggregate.",
)
def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts compile to count_if inside one hash aggregate
    (single pass, map-side combinable) — not two joins or a pivot. The
    orders->lineitem join is fact x fact on orderkey: sort-merge, and
    both sides prune to the 3 columns the query needs."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.when(
                F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) >= 90,
                "late",
            )
            .otherwise("ontime")
            .alias("delay_class"),
            high.alias("is_high"),
        )
        .groupBy("delay_class")
        .agg(
            F.count_if(F.col("is_high")).alias("high_line_count"),
            F.count_if(~F.col("is_high")).alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@register(
    "q21_last_supplier_wait",
    oracle="""
        WITH per_supp AS (
            SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
            GROUP BY l_orderkey, l_suppkey
        ), flagged AS (
            SELECT l_suppkey,
                   supp_last = max(supp_last) OVER w AS is_last,
                   count(*) OVER w AS n_supp,
                   count(*) FILTER (supp_last = max_last) OVER w AS n_at_last
            FROM (SELECT *, max(supp_last) OVER (PARTITION BY l_orderkey)
                             AS max_last
                  FROM per_supp)
            WINDOW w AS (PARTITION BY l_orderkey)
        )
        SELECT s_name, count(*) AS numwait
        FROM flagged JOIN supplier ON l_suppkey = s_suppkey
        WHERE is_last AND n_supp >= 2 AND n_at_last = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    tags=("relational", "join", "window", "A1"),
    doc="TPC-H Q21-shaped sole-blocking-supplier: for finalized orders "
    "with >=2 suppliers, find the single supplier whose last shipment "
    "alone set the order's completion date (EXISTS another supplier / "
    "NOT EXISTS another equally-late one, expressed as window counts). "
    "No commitdate in the test schema, so 'late' = sole latest shipper.",
)
def q21_last_supplier_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic EXISTS/NOT-EXISTS pair would be two extra self-joins
    of lineitem; one window over l_orderkey computes both existence
    tests in a single shuffle. Order of shuffles: groupBy (orderkey,
    suppkey) then window on orderkey — the second is cheap because
    AQE coalesces the already-small per-supplier aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("supp_last"))
    )
    w = W.partitionBy("l_orderkey")
    flagged = per_supp.select(
        "l_suppkey",
        (F.col("supp_last") == F.max("supp_last").over(w)).alias("is_last"),
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.count_if(F.col("supp_last") == F.max("supp_last").over(w))
        .over(w)
        .alias("n_at_last"),
    )
    return (
        flagged.filter(F.col("is_last") & (F.col("n_supp") >= 2) & (F.col("n_at_last") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q20_dominant_supplier",
    oracle="""
        WITH shipped AS (
            SELECT l_partkey, l_suppkey,
                   sum(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'small%'
            GROUP BY l_partkey, l_suppkey
        ), with_tot AS (
            SELECT *, sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
            FROM shipped
        )
        SELECT s_name, n_name AS nation, count(*) AS n_parts_dominated
        FROM with_tot
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE supp_qty * 2 > part_qty
        GROUP BY s_name, n_name
        ORDER BY s_name
    """,
    tags=("relational", "join", "window", "A1"),
    doc="TPC-H Q20-shaped dominant-supplier selection (no partsupp "
    "availqty in the test schema, so the 50% threshold applies to each "
    "supplier's share of a part's shipped quantity): per-(part,supplier) "
    "quantity vs per-part total via a window, threshold in exact decimal.",
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The share threshold compares decimal*2 to a decimal window sum —
    exact in both engines (a double share ratio would be partition-order
    dependent). part filter broadcasts BEFORE the fact shuffle so only
    matching partkeys aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("supp_qty"))
    )
    with_tot = shipped.withColumn(
        "part_qty", F.sum("supp_qty").over(W.partitionBy("l_partkey"))
    )
    return (
        with_tot.filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name", F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
        .orderBy("s_name")
    )


@register(
    "grouping_sets_priority_status",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER)
                   AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus))
        ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    tags=("relational", "grouping-sets", "A1"),
    doc="Explicit GROUPING SETS (beyond rollup/cube): the three specific "
    "groupings in one pass, disambiguated by grouping_id — Spark's "
    "Expand-based plan reads the input once for all three.",
)
def grouping_sets_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id() (bitmask, msb = first grouping column) matches
    DuckDB's GROUPING(a, b) bit-for-bit, which is what lets NULL-valued
    group cells be told apart from the ALL row in the hash compare."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], ["o_orderstatus"]],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _sum_dbl("o_totalprice").alias("sum_price"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "n_orders", "sum_price")
        .orderBy("gid", F.col("o_orderpriority").asc_nulls_first(), F.col("o_orderstatus").asc_nulls_first())
    )


@register(
    "q11_important_balance",
    oracle="""
        SELECT s_nationkey,
               CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS nation_bal
        FROM supplier
        GROUP BY s_nationkey
        HAVING sum(CAST(s_acctbal AS DECIMAL(18,2)))
               > (SELECT sum(CAST(s_acctbal AS DECIMAL(18,2))) * 0.03
                  FROM supplier)
        ORDER BY nation_bal DESC, s_nationkey
    """,
    tags=("relational", "scalar-subquery", "A1"),
    doc="TPC-H Q11-shaped 'important share' (no partsupp in the test "
    "schema, so the value is supplier account balance): per-nation total "
    "kept only when it exceeds a fraction of the GLOBAL total — a "
    "scalar subquery against the same input, evaluated once and "
    "broadcast into the HAVING.",
)
def q11_important_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global total is a one-row aggregate cross-joined (broadcast)
    into the per-nation aggregate — Spark evaluates the subquery once,
    not per group. The threshold compare stays in exact decimal
    (decimal * 0.03 literal), only the surfaced column decays to
    double."""
    supp = load_table(spark, sf_dir, "supplier")
    per_nation = supp.groupBy("s_nationkey").agg(
        F.sum(_dec("s_acctbal")).alias("bal_dec")
    )
    total = supp.agg(
        (F.sum(_dec("s_acctbal")) * F.lit("0.03").cast("decimal(4,2)")).alias(
            "threshold"
        )
    )
    return (
        per_nation.join(F.broadcast(total))
        .filter(F.col("bal_dec") > F.col("threshold"))
        .select(
            "s_nationkey",
            F.col("bal_dec").cast("double").alias("nation_bal"),
        )
        .orderBy(F.col("nation_bal").desc(), "s_nationkey")
    )


@register(
    "window_function_battery",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cdist,
               CAST(round(lag(o_totalprice, 1) OVER w * 100) AS BIGINT)
                   AS prev_cents,
               CAST(round(lead(o_totalprice, 1) OVER w * 100) AS BIGINT)
                   AS next_cents,
               CAST(round(first_value(o_totalprice) OVER w * 100) AS BIGINT)
                   AS first_cents,
               CAST(round(nth_value(o_totalprice, 2) OVER w * 100) AS BIGINT)
                   AS second_cents
        FROM orders
        WHERE o_custkey <= 300
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("relational", "window"),
    doc="Window-function battery: ranking (rank/dense_rank/row_number/"
    "ntile/percent_rank/cume_dist) and navigation (lag/lead/first_value/"
    "nth_value) over per-customer order history in one window — the "
    "sequential-context functions a per-record engine like the "
    "reference cannot express at all.",
)
def window_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle for all ten functions (same window spec -> one
    exchange + one sort). The ORDER BY carries o_orderkey as tiebreak so
    every navigation function is deterministic; prices surface as
    rounded cents (lag/lead of a raw double would hash-match anyway,
    but the battery keeps the engine's no-float-at-the-boundary rule)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
    )
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 300)
    price = F.col("o_totalprice")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        cents(F.lag(price, 1).over(w)).alias("prev_cents"),
        cents(F.lead(price, 1).over(w)).alias("next_cents"),
        cents(F.first(price).over(w)).alias("first_cents"),
        cents(F.nth_value(price, 2).over(w)).alias("second_cents"),
    )


@register(
    "bucketed_colocated_join",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("relational", "join", "bucketing", "scale"),
    doc="Co-located fact-fact join via bucketed tables: orders and "
    "lineitem staged bucketBy(orderkey) into the same bucket count, so "
    "the join runs with ZERO exchange on the join key (bucket i joins "
    "bucket i in place) — the 100 TB answer to the orders x lineitem "
    "shuffle, pre-paid once at write time and amortized over every "
    "subsequent join.",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A merge-join HINT (not a conf toggle — confs are read at action
    time, after this function returns) pins the bucketed sort-merge
    path the optimization targets; at test scale AQE would otherwise
    broadcast the join and hide it. The executed plan carries
    SelectedBucketsCount and no exchange below the join — asserted in
    tests. Bucketed staging happens once per (process, sf_dir); table
    names carry an sf digest so concurrent scale factors don't collide
    in a shared session catalog. Catalog entries belong to the session,
    so a session that lacks the tables writes them again."""
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_lineitem = f"b_orders_{key}", f"b_lineitem_{key}"

    def write(base: str) -> None:
        for table, name, col in (
            ("orders", t_orders, "o_orderkey"),
            ("lineitem", t_lineitem, "l_orderkey"),
        ):
            (
                load_table(spark, sf_dir, table)
                .write.bucketBy(8, col)
                .sortBy(col)
                .option("path", f"{base}/{name}")
                .mode("overwrite")
                .saveAsTable(name)
            )

    base = formats.staged("bucketed_", (sf_dir,), write)
    if not spark.catalog.tableExists(t_orders):
        write(base)
    orders = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return (
        orders.hint("merge")
        .join(li.hint("merge"), orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _sum_dbl("l_extendedprice").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "right_outer_supplier_lines",
    oracle="""
        SELECT s.s_suppkey, s.s_name,
               count(l.l_orderkey) AS n_lines,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_price
        FROM (SELECT * FROM lineitem WHERE l_quantity >= 45) l
        RIGHT OUTER JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
        ORDER BY s.s_suppkey
    """,
    tags=("relational", "outer-join"),
    doc="RIGHT OUTER JOIN (completing the join-type matrix: inner, "
    "left/right/full outer, semi, anti, cross): every supplier kept "
    "with zero-filled aggregates when the filtered lineitem side has "
    "no match — count(col) vs count(*) null semantics included.",
)
def right_outer_supplier_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count('l_orderkey') counts only matched rows (NULL-skipping),
    so unmatched suppliers report 0 — the count(*) form would report 1
    and corrupt the rollup; sum over an all-NULL group yields NULL in
    both engines. Preserved side is the small one: Spark flips a right
    outer to a broadcast LEFT outer with supplier broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey, "right_outer")
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            _sum_dbl("l_extendedprice").alias("sum_price"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "market_basket_pairs",
    oracle="""
        WITH parts_per_order AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS support
        FROM parts_per_order a
        JOIN parts_per_order b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        HAVING count(*) >= 3
        ORDER BY support DESC, part_a, part_b
    """,
    tags=("relational", "join", "analytics", "A1"),
    doc="Market-basket pair mining: parts co-occurring in the same order "
    "with support >= 3 — per-basket pair expansion, the frequent-itemset "
    "primitive.",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair space is bounded by sum over orders of (lines choose 2)
    — per-basket combinations, NOT corpus^2: a ~7-line order contributes
    ~21 pairs regardless of corpus size. Pairs are enumerated codegen-
    side inside each basket (sorted-set collect then indexed transform/
    slice, the same in-bucket expansion that replaced the LSH bucket
    self-join): 2 shuffles total (basket fold on orderkey, pair count)
    vs the self-join form's 3 (distinct, join, count) — measured 1.25x
    faster warm at sf0.1 with identical output. Sorted collect_set
    canonicalizes part_a < part_b with no post-hoc dedup."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("pr")
    )
    return (
        pairs.select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
        .orderBy(F.col("support").desc(), "part_a", "part_b")
    )


@register(
    "agg_moment_stats",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   count(*) AS n,
                   sum(CAST(round(value * 100) AS BIGINT)) AS s1,
                   sum(CAST(round(value * 100) AS BIGINT)
                       * CAST(round(value * 100) AS BIGINT)) AS s2,
                   sum(CAST(round(value * 100) AS BIGINT)
                       * COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                                           AS BIGINT), 0)) AS sxy,
                   sum(COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                                         AS BIGINT), 0)) AS sy1,
                   sum(COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                                         AS BIGINT), 0)
                       * COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                                           AS BIGINT), 0)) AS sy2
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / (100.0 * n) AS mean_value,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                   / (10000.0 * (n - 1)) AS var_value,
               (CAST(sxy AS DOUBLE) - CAST(s1 AS DOUBLE) * sy1 / n)
                   / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                          * (CAST(sy2 AS DOUBLE)
                             - CAST(sy1 AS DOUBLE) * sy1 / n))
                   AS corr_value_k
        FROM m
        ORDER BY event_type
    """,
    tags=("relational", "A1", "statistics"),
    doc="Statistical aggregates from exact integer moments: mean, sample "
    "variance, and Pearson correlation per group computed from int64 "
    "sums (s1, s2, sxy...) with one double conversion at the end — "
    "built-in stddev/corr accumulate in floats partition-by-partition "
    "and can never bit-match across engines; the moment form is exact, "
    "order-independent, and still one map-side-combinable aggregate.",
)
def agg_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sums of cents and cents^2 fit int64 comfortably at any per-group
    cardinality this schema reaches (1e7 rows x (1e4 cents)^2 = 1e15 <
    2^63); at 100 TB group scale the s2/sxy columns move to decimal(38)
    sums — same shape, still exact."""
    cents = F.round(F.col("value") * 100).cast("long")
    k = F.coalesce(
        F.expr("try_cast(get_json_object(props, '$.k') AS bigint)"), F.lit(0)
    )
    m = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", cents.alias("c"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
            F.sum(F.col("c") * F.col("k")).alias("sxy"),
            F.sum("k").alias("sy1"),
            F.sum(F.col("k") * F.col("k")).alias("sy2"),
        )
    )
    s1d = F.col("s1").cast("double")
    sy1d = F.col("sy1").cast("double")
    var_num = F.col("s2").cast("double") - s1d * F.col("s1") / F.col("n")
    covy = F.col("sxy").cast("double") - s1d * F.col("sy1") / F.col("n")
    vary = F.col("sy2").cast("double") - sy1d * F.col("sy1") / F.col("n")
    # try_divide, not /: a single-row group (n-1 = 0) or a zero-variance
    # group (sqrt = 0) must yield NULL like the DuckDB oracle (x/0 is
    # NULL there), not kill the job under ANSI — the degenerate-world
    # crash class from tools/hostile_sweep.py.
    return m.select(
        "event_type",
        "n",
        (s1d / (F.lit(100.0) * F.col("n"))).alias("mean_value"),
        F.try_divide(var_num, F.lit(10000.0) * (F.col("n") - 1)).alias(
            "var_value"
        ),
        F.try_divide(covy, F.sqrt(var_num * vary)).alias("corr_value_k"),
    ).orderBy("event_type")


@register(
    "unpivot_nation_metrics",
    oracle="""
        WITH wide AS (
            SELECT n.n_name,
                   CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
                   CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
                   CAST(count_if(o.o_orderpriority = '1-URGENT') AS BIGINT)
                       AS n_urgent
            FROM nation n
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY n.n_name
        )
        SELECT n_name, metric, value
        FROM wide
        UNPIVOT (value FOR metric IN (n_customers, n_orders, n_urgent))
        ORDER BY n_name, metric
    """,
    tags=("relational", "reshape", "A1"),
    doc="Unpivot (melt): a wide per-nation metrics row reshaped to long "
    "(nation, metric, value) — the inverse of pivot_status_by_priority, "
    "completing the reshape pair. Spark's unpivot/melt compiles to "
    "Expand (rows x #metrics) AFTER the aggregation, so the multiplied "
    "stream is |nations| x 3, never the fact table.",
)
def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("n_name", "c_custkey")
        .agg(
            F.count("o_orderkey").alias("po"),
            F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("pu"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("po").alias("n_orders"),
            F.sum("pu").alias("n_urgent"),
        )
    )
    return (
        wide.unpivot(
            ["n_name"],
            ["n_customers", "n_orders", "n_urgent"],
            "metric",
            "value",
        )
        .orderBy("n_name", "metric")
    )


@register(
    "window_range_frame_moving_sum",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id,
                   CAST(epoch(ts) AS BIGINT) AS ts_sec,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE user_id < 300
        )
        SELECT user_id, event_id,
               CAST(sum(cents) OVER w AS BIGINT) AS trailing_1h_cents,
               CAST(count(*) OVER w AS BIGINT) AS trailing_1h_events
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id
    """,
    tags=("relational", "window", "event-time"),
    doc="RANGE-frame window: per-user trailing-1-hour moving sum/count "
    "over event time — the value-based frame (peers by ORDER BY value "
    "distance, not row offsets) that ROWS frames can't express. The "
    "batch twin of the sliding event-time window, used for rate "
    "limiting / rolling exposure; cents as BIGINT keeps the moving sum "
    "order-independent.",
)
def window_range_frame_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on user_id; within a partition Spark evaluates the
    RANGE frame with a sliding two-pointer over the sorted run — O(n)
    per key, not O(n * frame). Ties on ts_sec are frame 'peers' in both
    engines (value-based frames include all equal-key rows), so the
    aggregate — unlike a ROWS frame — is deterministic under ties."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 300)
        .select(
            "user_id",
            "event_id",
            # NTZ wall time -> epoch seconds with the tz pinned to UTC in
            # the expression itself: session-timezone-independent (a DST
            # gap in the session tz would otherwise shift offsets
            # mid-column and change RANGE-frame membership).
            F.expr("unix_seconds(to_utc_timestamp(ts, 'UTC'))").alias("ts_sec"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum("cents").over(w).alias("trailing_1h_cents"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_events"),
    ).orderBy("user_id", "event_id")


@register(
    "yoy_revenue_growth",
    oracle="""
        WITH yearly AS (
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS INTEGER) AS yr,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY nation, yr
        )
        SELECT nation, yr, revenue_cents,
               lag(revenue_cents) OVER (
                   PARTITION BY nation ORDER BY yr
               ) AS prev_cents,
               CAST(revenue_cents - lag(revenue_cents) OVER (
                   PARTITION BY nation ORDER BY yr
               ) AS BIGINT) AS delta_cents
        FROM yearly
        ORDER BY nation, yr
    """,
    tags=("relational", "window", "timeseries", "A1"),
    doc="Year-over-year revenue delta per nation: broadcast dim joins "
    "into a (nation, year) rollup, then lag() over the tiny aggregated "
    "series. The window runs AFTER aggregation — 175 rows, not 1.5M — "
    "the put-the-window-on-the-rollup shape that matters at 100 TB "
    "(a pre-agg window would sort the fact table).",
)
def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    yearly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            )
        )
    )
    w = W.partitionBy("nation").orderBy("yr")
    prev = F.lag("revenue_cents").over(w)
    return yearly.select(
        "nation",
        "yr",
        "revenue_cents",
        prev.alias("prev_cents"),
        (F.col("revenue_cents") - prev).cast("long").alias("delta_cents"),
    ).orderBy("nation", "yr")


@register(
    "rfm_customer_segments",
    oracle="""
        WITH base AS (
            SELECT o_custkey AS custkey,
                   max(CAST(o_orderdate AS DATE)) AS last_order,
                   count(*) AS frequency,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS monetary_cents
            FROM orders
            GROUP BY o_custkey
        ), scored AS (
            SELECT custkey,
                   ntile(4) OVER (ORDER BY last_order, custkey) AS r_score,
                   ntile(4) OVER (ORDER BY frequency, custkey) AS f_score,
                   ntile(4) OVER (ORDER BY monetary_cents, custkey) AS m_score
            FROM base
        )
        SELECT r_score, f_score, m_score,
               count(*) AS n_customers
        FROM scored
        GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score
    """,
    tags=("relational", "window", "segmentation", "A1"),
    doc="RFM customer segmentation: recency/frequency/monetary quartile "
    "scores (custkey tiebreak for the total order ntile needs), rolled "
    "into segment cell counts. A bare ntile() window would funnel the "
    "rollup through one task (the engine's plan lint rejects it); each "
    "score instead derives from the range-partitioned global_rank plus "
    "the standard ntile bucket arithmetic — exact integer div, "
    "bit-identical to the window form, no single-partition exchange.",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.operators.ranking import global_rank

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    # The rollup is materialized once and its measured count sizes the
    # rank exchanges (like the CC loop): a 15k-row rollup ranks in one
    # partition instead of paying 3 full-width range exchanges
    # (3.3 s -> sub-second at sf0.1); a 1e9-row rollup fans out.
    base = base.localCheckpoint(eager=True)
    n_rows = base.count()
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(session_width, n_rows // 500_000 + 1))
    scored = base.withColumn("_n", F.lit(n_rows))
    for metric, out in (
        ("last_order", "r_score"),
        ("frequency", "f_score"),
        ("monetary_cents", "m_score"),
    ):
        scored = global_rank(
            scored, [metric, "custkey"], out_col="_rk", num_partitions=width
        )
        # ntile(4): the first n%4 buckets take n//4+1 rows, the rest n//4
        scored = scored.withColumn(
            out,
            F.expr(
                "CAST(CASE WHEN _rk <= (_n % 4) * (_n div 4 + 1) "
                "THEN (_rk - 1) div (_n div 4 + 1) + 1 "
                "ELSE (_n % 4) + (_rk - 1 - (_n % 4) * (_n div 4 + 1)) "
                "     div (_n div 4) + 1 END AS INT)"
            ),
        ).drop("_rk")
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "sql_lateral_topk_per_customer",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM customer c,
        LATERAL (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
    """,
    tags=("relational", "sql-api", "lateral", "P9"),
    doc="Correlated LATERAL subquery with per-row ORDER BY + LIMIT "
    "(Spark 4 lateral join): top-3 orders per BUILDING customer "
    "expressed as the SQL-standard lateral form instead of a window — "
    "the same string runs on both engines. Catalyst decorrelates it "
    "into a ranked join, so the plan is the window top-K's plan, not "
    "a per-customer loop.",
)
def sql_lateral_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM customer c,
        LATERAL (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


@register(
    "sql_pipe_syntax_rollup",
    oracle="""
        WITH agg AS (
            SELECT o_orderstatus,
                   count(*) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, n, cents, cents // n AS avg_cents
        FROM agg WHERE n > 1
    """,
    tags=("relational", "sql-api", "pipe-syntax"),
    doc="Spark 4 SQL pipe syntax (|> operators): linear FROM -> WHERE "
    "-> AGGREGATE -> WHERE -> EXTEND dataflow over urgent orders, "
    "proven equivalent to the nested ANSI form the oracle runs — the "
    "pipe front-end parses to the identical logical plan, so the "
    "surface costs nothing at 100 TB.",
)
def sql_pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderpriority = '1-URGENT'
        |> AGGREGATE count(*) AS n,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
           GROUP BY o_orderstatus
        |> WHERE n > 1
        |> EXTEND cents div n AS avg_cents
        """
    )


@register(
    "supplier_pareto_analysis",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM lineitem GROUP BY l_suppkey
        ), tot AS (
            SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM rev
        ), c AS (
            SELECT l_suppkey, cents,
                   CAST(sum(cents) OVER (ORDER BY cents DESC, l_suppkey
                                         ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_cents
            FROM rev
        )
        SELECT c.l_suppkey, c.cents, c.cum_cents,
               (SELECT total_cents FROM tot) AS total_cents,
               c.cum_cents * 5 <= (SELECT total_cents FROM tot) * 4
                   AS in_top80
        FROM c
    """,
    tags=("relational", "pareto", "scale", "A1"),
    doc="Pareto (80/20) concentration analysis: per-supplier revenue "
    "ranked descending with the GLOBAL cumulative share; a supplier is "
    "in the top-80% mass iff 5*cum <= 4*total (exact integer cross-"
    "multiplication — no float share). The cumulative sum rides the "
    "distributed prefix-sum primitive, not a single-task window.",
)
def supplier_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One rollup shuffle + the prefix-sum's range exchange; the total
    is a broadcast 1-row aggregate."""
    from dynamodb_stream_processor_2_0_spark.operators.ranking import (
        global_running_sum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        )
    ).withColumn("neg_cents", -F.col("cents"))
    tot = rev.agg(F.sum("cents").cast("long").alias("total_cents"))
    c = global_running_sum(
        rev, ["neg_cents", "l_suppkey"], "cents", out_col="cum_cents"
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "l_suppkey",
        "cents",
        F.col("cum_cents").cast("long").alias("cum_cents"),
        "total_cents",
        (F.col("cum_cents") * 5 <= F.col("total_cents") * 4).alias("in_top80"),
    )


@register(
    "market_basket_lift",
    oracle="""
        WITH parts_per_order AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n_baskets AS (
            SELECT count(DISTINCT l_orderkey) AS nb FROM parts_per_order
        ), item AS (
            SELECT l_partkey, count(*) AS s FROM parts_per_order
            GROUP BY l_partkey
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS support
            FROM parts_per_order a
            JOIN parts_per_order b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY part_a, part_b
            HAVING count(*) >= 3
        )
        SELECT p.part_a, p.part_b, p.support,
               ia.s AS support_a, ib.s AS support_b,
               CAST(round(
                   1000000.0 * p.support * (SELECT nb FROM n_baskets)
                   / (CAST(ia.s AS DOUBLE) * ib.s)) AS BIGINT)
                   AS lift_x1e6
        FROM pairs p
        JOIN item ia ON ia.l_partkey = p.part_a
        JOIN item ib ON ib.l_partkey = p.part_b
    """,
    tags=("relational", "analytics", "lift", "A1"),
    doc="Association lift for the mined basket pairs: lift = P(a,b) / "
    "(P(a)P(b)) = support * N / (s_a * s_b), reported on a 1e6 integer "
    "grid (exact products, one exactly-rounded double division, round "
    "half away) so the affinity measure is gate-exact. Lift > 1e6 "
    "means the pair co-occurs more than independence predicts — the "
    "signal support alone can't give.",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adds two broadcast joins (item supports) and a 1-row basket
    count to the pair-mining plan; the pair expansion is unchanged."""
    ppo = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    nb = ppo.agg(F.count_distinct("l_orderkey").alias("nb"))
    item = ppo.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    baskets = ppo.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("support_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("support_b"))
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "support",
            "support_a",
            "support_b",
            F.round(
                F.lit(1000000.0)
                * F.col("support")
                * F.col("nb")
                / (F.col("support_a").cast("double") * F.col("support_b"))
            )
            .cast("long")
            .alias("lift_x1e6"),
        )
    )


@register(
    "part_sourcing_hhi",
    oracle="""
        WITH per_supp AS (
            SELECT l_partkey,
                   l_suppkey,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS q
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ), tot AS (
            SELECT l_partkey, CAST(sum(q) AS BIGINT) AS qt,
                   count(*) AS n_suppliers,
                   CAST(sum(q * q) AS BIGINT) AS sum_sq
            FROM per_supp GROUP BY l_partkey
        )
        SELECT l_partkey, n_suppliers, qt AS total_qty_x100,
               CAST(round(100000000.0 * sum_sq
                          / (CAST(qt AS DOUBLE) * qt)) AS BIGINT)
                   AS hhi_x1e8
        FROM tot
        WHERE n_suppliers >= 2
    """,
    tags=("relational", "analytics", "concentration", "A1"),
    doc="Sourcing-concentration (Herfindahl) index per part: HHI = sum "
    "of squared supplier quantity shares, on a 1e8 integer grid — "
    "exact integer moments (sum q, sum q^2) with one exactly-rounded "
    "division, so the supply-risk metric is gate-exact. HHI -> 1e8 "
    "means a single-supplier part; the procurement analytic Pareto's "
    "global view can't give per entity.",
)
def part_sourcing_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two map-side-combined shuffles (part-supplier rollup, per-part
    moments) — the share squares come from exact integer sums, never a
    per-share division."""
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q")
    )
    tot = per_supp.groupBy("l_partkey").agg(
        F.sum("q").alias("qt"),
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("q") * F.col("q")).alias("sum_sq"),
    )
    return tot.filter(F.col("n_suppliers") >= 2).select(
        "l_partkey",
        "n_suppliers",
        F.col("qt").alias("total_qty_x100"),
        F.round(
            F.lit(100000000.0)
            * F.col("sum_sq")
            / (F.col("qt").cast("double") * F.col("qt"))
        )
        .cast("long")
        .alias("hhi_x1e8"),
    )


@register(
    "customer_revenue_gini",
    oracle="""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT cents,
                   ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rnk
            FROM rev
        ), moments AS (
            SELECT count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS s0,
                   CAST(sum(rnk * cents) AS BIGINT) AS s1
            FROM ranked
        )
        SELECT n AS n_customers, s0 AS total_cents,
               CAST(round(100000000.0 *
                    (2.0 * s1 / (CAST(n AS DOUBLE) * s0)
                     - (n + 1.0) / n)) AS BIGINT) AS gini_x1e8
        FROM moments
    """,
    tags=("relational", "analytics", "concentration", "scale"),
    doc="Gini coefficient of customer revenue concentration: "
    "G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted "
    "revenues — rank and cross-moment are exact integers (the rank "
    "rides the distributed global_rank primitive, never a single-task "
    "window), one exactly-rounded double expression at the end on the "
    "1e8 grid. The inequality summary behind every 'top-X% of "
    "customers drive Y%' claim.",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One rollup shuffle, one global_rank (range exchange + window),
    one 1-row moment aggregate."""
    from dynamodb_stream_processor_2_0_spark.operators.ranking import global_rank

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = global_rank(rev, ["cents", "o_custkey"], out_col="rnk")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.round(
            F.lit(100000000.0)
            * (
                F.lit(2.0)
                * F.sum(F.col("rnk") * F.col("cents"))
                / (
                    F.count(F.lit(1)).cast("double")
                    * F.sum("cents")
                )
                - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))
            )
        )
        .cast("long")
        .alias("gini_x1e8"),
    )


@register(
    "relational_division_all_quarters",
    oracle="""
        WITH q AS (
            SELECT DISTINCT o_custkey,
                   CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1996-01-01'
        ), full_cover AS (
            SELECT o_custkey FROM q GROUP BY o_custkey HAVING count(*) = 4
        )
        SELECT c.c_mktsegment,
               count(*) AS n_customers,
               min(c.c_custkey) AS min_custkey,
               max(c.c_custkey) AS max_custkey
        FROM customer c JOIN full_cover f ON f.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    tags=("relational", "division", "aggregation", "A2"),
    doc="Relational DIVISION (the 'for-all' operator, the one classic "
    "relational-algebra operator a filter/join closure lacks): "
    "customers with orders in EVERY quarter of 1995, by segment. "
    "Division compiles to distinct + count == |divisor| — two "
    "map-side-combinable aggregations, no NOT EXISTS double "
    "anti-join (the textbook form's two correlated subqueries would "
    "be two extra shuffles and a quadratic risk on skewed keys). "
    "Divisor cardinality (4) is a planning-time constant, so the "
    "HAVING is a cheap post-agg filter. Generalizes the reference's "
    "existence aggregate (A2, index.js:125) from 'any' to 'all'.",
)
def relational_division_all_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    q = (
        orders.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .select("o_custkey", F.quarter("o_orderdate").alias("qtr"))
        .distinct()
    )
    full_cover = q.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("nq")).filter(
        F.col("nq") == 4
    )
    return (
        customer.join(full_cover, customer["c_custkey"] == full_cover["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("min_custkey"),
            F.max("c_custkey").alias("max_custkey"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "lineitem_fifo_allocation",
    oracle="""
        WITH lots AS (
            SELECT l_partkey,
                   CAST(round(l_quantity) AS BIGINT) AS qty,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                   sum(CAST(round(l_quantity) AS BIGINT)) OVER w
                       - CAST(round(l_quantity) AS BIGINT) AS cum_before,
                   sum(CAST(round(l_quantity) AS BIGINT))
                       OVER (PARTITION BY l_partkey) AS total_qty
            FROM lineitem
            WINDOW w AS (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING)
        ), alloc AS (
            SELECT l_partkey, qty, cents, total_qty,
                   least(qty, greatest(CAST(0 AS BIGINT),
                         total_qty // 2 - cum_before)) AS consumed
            FROM lots
        )
        SELECT l_partkey,
               CAST(min(total_qty) AS BIGINT) AS total_qty,
               CAST(min(total_qty) // 2 AS BIGINT) AS demand_qty,
               CAST(sum(consumed) AS BIGINT) AS allocated_qty,
               CAST(sum(consumed * cents // qty) AS BIGINT)
                   AS fifo_cost_cents,
               CAST(count(*) FILTER (WHERE consumed > 0) AS BIGINT)
                   AS n_lots_touched
        FROM alloc
        WHERE qty > 0
        GROUP BY l_partkey
        ORDER BY l_partkey
    """,
    tags=("relational", "window", "analytics", "allocation"),
    doc="FIFO allocation / inventory costing: per part, supply lots "
    "(lineitems in ship order) are consumed against a demand of half "
    "the total quantity — each lot's consumed share is "
    "clamp(demand - cum_before, 0, qty), the closed-form of the "
    "sequential 'pop the queue until filled' loop, so the allocation "
    "is ONE partitioned window + a rollup instead of an iterative "
    "matcher. Per-lot cost attributed pro-rata in exact integer "
    "cents (consumed * cents div qty). This is the queue-matching "
    "primitive behind FIFO COGS, order-to-inventory reservation, and "
    "capacity allocation — sequential on its face, windowed in "
    "practice; one shuffle on l_partkey at any scale.",
)
def lineitem_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("l_partkey")
    lots = li.select(
        "l_partkey",
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (
            F.sum(F.round("l_quantity").cast("long")).over(w)
            - F.round("l_quantity").cast("long")
        ).alias("cum_before"),
        F.sum(F.round("l_quantity").cast("long")).over(wp).alias("total_qty"),
    )
    alloc = lots.withColumn(
        "consumed",
        F.least(
            F.col("qty"),
            F.greatest(
                F.lit(0).cast("long"),
                F.expr("total_qty div 2") - F.col("cum_before"),
            ),
        ),
    )
    return (
        alloc.filter(F.col("qty") > 0)
        .groupBy("l_partkey")
        .agg(
            F.min("total_qty").cast("long").alias("total_qty"),
            F.expr("cast(min(total_qty) div 2 AS bigint)").alias("demand_qty"),
            F.sum("consumed").cast("long").alias("allocated_qty"),
            F.sum(F.expr("consumed * cents div qty")).cast("long").alias(
                "fifo_cost_cents"
            ),
            F.count_if(F.col("consumed") > 0).cast("long").alias("n_lots_touched"),
        )
        .orderBy("l_partkey")
    )


@register(
    "events_replay_pair_detect",
    oracle="""
        WITH keyed AS (
            SELECT event_id, user_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   ts
            FROM events
        )
        SELECT a.user_id, a.event_type, a.cents,
               a.event_id AS event_id_a,
               b.event_id AS event_id_b,
               CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT)
                   AS seconds_apart
        FROM keyed a
        JOIN keyed b
          ON b.user_id = a.user_id
         AND b.event_type = a.event_type
         AND b.cents = a.cents
         AND b.event_id > a.event_id
         AND abs(floor(epoch(b.ts)) - floor(epoch(a.ts))) <= 604800
        ORDER BY a.user_id, a.event_type, a.cents, event_id_a, event_id_b
    """,
    tags=("relational", "dedup", "D3", "analytics"),
    doc="Replayed-event detection: pairs of events from the SAME user "
    "with the SAME type and EXACT same value within 7 days — distinct "
    "event_ids carrying identical content is the signature of an "
    "at-least-once producer replaying (the exact failure the "
    "reference's dedup layers guard against, index.js:107-141, but "
    "detected FORENSICALLY across ids rather than prevented by key). "
    "Pure EQUI-join on (user, type, cents) with the time proximity as "
    "a residual filter — no band-join machinery; shuffle keys on the "
    "content triple whose group sizes are naturally tiny, so the "
    "self-pair term is bounded by honest-collision rates. Pairs only "
    "on the output; at 100 TB this is the audit query you run when "
    "the duplicatesPrevented counter looks too low.",
)
def events_replay_pair_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("ts").cast("timestamp").alias("tse"),
    ).withColumn("epoch_s", F.floor(F.unix_timestamp("tse")).cast("long"))
    a = keyed.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.col("cents").alias("c"),
        F.col("event_id").alias("event_id_a"),
        F.col("epoch_s").alias("s_a"),
    )
    b = keyed.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.col("cents").alias("c"),
        F.col("event_id").alias("event_id_b"),
        F.col("epoch_s").alias("s_b"),
    )
    return (
        a.join(b, ["u", "t", "c"])
        .filter(
            (F.col("event_id_b") > F.col("event_id_a"))
            & (F.abs(F.col("s_b") - F.col("s_a")) <= 604800)
        )
        .select(
            F.col("u").alias("user_id"),
            F.col("t").alias("event_type"),
            F.col("c").alias("cents"),
            "event_id_a",
            "event_id_b",
            (F.col("s_b") - F.col("s_a")).alias("seconds_apart"),
        )
        .orderBy("user_id", "event_type", "cents", "event_id_a", "event_id_b")
    )


_CORR_SUBQ_SQL = """
    WITH c AS (
        SELECT c_custkey, c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN c.cents > (
                    SELECT CAST(sum(c2.cents) AS BIGINT)
                           / CAST(count(*) AS BIGINT)
                    FROM c c2
                    WHERE c2.c_nationkey = c.c_nationkey)
                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_nation_avg,
           CAST(sum(CASE WHEN EXISTS (
                    SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_urgent_order,
           CAST(sum(CASE WHEN NOT EXISTS (
                    SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_without_orders
    FROM c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
"""


@register(
    "sql_correlated_subquery_battery",
    oracle=_CORR_SUBQ_SQL,
    tags=("relational", "sql-api"),
    doc="SQL front-end: correlated-subquery battery — a scalar "
    "correlated aggregate subquery (customer balance vs the "
    "same-nation average, exact integer sum/count so the double "
    "division is bit-identical), a correlated EXISTS (has an URGENT "
    "order) and a correlated NOT EXISTS (no orders at all) — the "
    "SAME ANSI string runs on both engines. The point is the PLAN: "
    "Catalyst decorrelates all three into aggregate/semi/anti "
    "JOINS (RewriteCorrelatedScalarSubquery, RewritePredicateSubquery) "
    "— no per-row subplan execution, which is what makes the "
    "correlated form safe at 100 TB (a per-row rewrite would be a "
    "nested loop over the fact table). Asserted by the plan-shape "
    "test: the physical plan contains joins, never an InSubquery/ "
    "ScalarSubquery node surviving to execution on the row path.",
)
def sql_correlated_subquery_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dynamodb_stream_processor_2_0_spark.sources.catalog import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_CORR_SUBQ_SQL)


# --- price-volume-mix decomposition ---------------------------------------------
#
# The "why did revenue move" waterfall every BI review runs: the
# month-over-month revenue delta per market segment split EXACTLY into
# a VOLUME effect (order-count change at the old average ticket), a
# RATE effect (average-ticket change at the old volume) and the
# cross/JOINT term — delta = (n1-n0)*r0 + n0*(r1-r0) + (n1-n0)*(r1-r0)
# holds as an integer identity when r is the exact average in
# millicents and the residual from truncating r is folded into a
# reported remainder (never silently absorbed: volume+rate+joint+rem
# == delta EXACTLY, gate-enforced per row). Consecutive months pair by
# an offset equi-join on the month key.

_PVM_ORACLE = """
    WITH m AS (
        SELECT o_orderpriority AS seg,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS mon,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2
    ), paired AS (
        SELECT a.seg, a.mon AS mon0, b.mon AS mon1,
               a.n AS n0, b.n AS n1, a.rev AS rev0, b.rev AS rev1,
               (a.rev * 1000) // a.n AS r0_milli,
               (b.rev * 1000) // b.n AS r1_milli
        FROM m a JOIN m b
          ON b.seg = a.seg
         AND b.mon = strftime(CAST(a.mon || '-01' AS DATE)
                              + INTERVAL 1 MONTH, '%Y-%m')
    )
    SELECT seg, mon0, mon1, n0, n1,
           (rev1 - rev0) * 1000 AS delta_millicents,
           (n1 - n0) * r0_milli AS volume_effect,
           n0 * (r1_milli - r0_milli) AS rate_effect,
           (n1 - n0) * (r1_milli - r0_milli) AS joint_effect,
           (rev1 - rev0) * 1000
           - ((n1 - n0) * r0_milli + n0 * (r1_milli - r0_milli)
              + (n1 - n0) * (r1_milli - r0_milli))
               AS truncation_remainder
    FROM paired
    ORDER BY seg, mon0
"""


@register(
    "orders_price_volume_mix",
    oracle=_PVM_ORACLE,
    tags=("relational", "analytics", "A1"),
    doc="Price-volume-mix decomposition of the month-over-month "
    "revenue delta per order priority: volume effect (count change "
    "at the old average ticket), rate effect (ticket change at the "
    "old volume), joint term, and an EXPLICIT truncation remainder "
    "so volume+rate+joint+remainder == delta exactly on every row — "
    "the decomposition identity is gate-enforced instead of "
    "approximately true. Average tickets are exact millicent "
    "quotients; consecutive months pair by an offset equi-join on "
    "the month key (never a window over the full relation). The "
    "'why did revenue move' waterfall every BI review runs; one "
    "(seg, month) rollup then O(segs * months) tiny join work.",
)
def orders_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.col("o_orderpriority").alias("seg"),
        F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev"),
    )
    a = m.select(
        "seg",
        F.col("mon").alias("mon0"),
        F.col("n").alias("n0"),
        F.col("rev").alias("rev0"),
        F.expr(
            "date_format(add_months(to_date(concat(mon, '-01')), 1),"
            " 'yyyy-MM')"
        ).alias("mon1"),
    )
    b = m.select(
        "seg",
        F.col("mon").alias("mon1"),
        F.col("n").alias("n1"),
        F.col("rev").alias("rev1"),
    )
    paired = a.join(b, ["seg", "mon1"]).select(
        "seg",
        "mon0",
        "mon1",
        "n0",
        "n1",
        "rev0",
        "rev1",
        F.expr("(rev0 * 1000) div n0").alias("r0_milli"),
        F.expr("(rev1 * 1000) div n1").alias("r1_milli"),
    )
    return paired.select(
        "seg",
        "mon0",
        "mon1",
        "n0",
        "n1",
        F.expr("(rev1 - rev0) * 1000").alias("delta_millicents"),
        F.expr("(n1 - n0) * r0_milli").alias("volume_effect"),
        F.expr("n0 * (r1_milli - r0_milli)").alias("rate_effect"),
        F.expr("(n1 - n0) * (r1_milli - r0_milli)").alias(
            "joint_effect"
        ),
        F.expr(
            "(rev1 - rev0) * 1000"
            " - ((n1 - n0) * r0_milli + n0 * (r1_milli - r0_milli)"
            "    + (n1 - n0) * (r1_milli - r0_milli))"
        ).alias("truncation_remainder"),
    ).orderBy("seg", "mon0")
