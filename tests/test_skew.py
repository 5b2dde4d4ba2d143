"""Salted aggregation / join must be semantics-preserving."""

from __future__ import annotations

from dynamodb_stream_processor_2_0_spark.operators.skew import salted_join
from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_mktsegment"
    )
    salted = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        cust,
        on="c_custkey",
        entropy_col="o_orderkey",
        n_salts=8,
    ).select("o_orderkey", "c_mktsegment")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salt_is_deterministic(spark, sf_dir):
    from dynamodb_stream_processor_2_0_spark.operators.skew import with_salt

    ev = load_table(spark, sf_dir, "events").select("event_id")
    a = with_salt(ev, "event_id", 16).collect()
    b = with_salt(ev, "event_id", 16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    salts = {r[1] for r in a}
    assert salts == set(range(16))


class TestNodeJaccardHubCap:
    """The hub cap in node_jaccard_from_edges must (a) bound hub
    fan-out, (b) match exact Jaccard when it doesn't bind, and
    (c) stay DuckDB-twin-exact when it DOES bind (row_number<=cap
    over supplier order = slice(sort_array, 1, cap))."""

    @staticmethod
    def _fn():
        # queries_graph_ops registers at import time and reads
        # earlier modules' registry entries — load via the registry.
        from dynamodb_stream_processor_2_0_spark.plans import registry

        registry._load()
        from dynamodb_stream_processor_2_0_spark.plans.queries_graph_ops import (
            node_jaccard_from_edges,
        )

        return node_jaccard_from_edges

    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "cust long, supp long")

    def test_cap_binds_on_hub(self, spark):
        node_jaccard_from_edges = self._fn()

        # one hub customer connected to 40 suppliers, cap=8:
        # the hub contributes exactly C(8,2)=28 pairs over suppliers
        # 1..8 (the cap keeps the LOWEST ids), never C(40,2)=780.
        rows = [(1, s) for s in range(1, 41)]
        out = node_jaccard_from_edges(
            self._edges(spark, rows), hub_cap=8, topn=1000
        ).collect()
        assert len(out) == 28
        touched = {r.s1 for r in out} | {r.s2 for r in out}
        assert touched == set(range(1, 9))
        # degrees come from the CAPPED baskets: every surviving
        # supplier has degree 1, so jaccard = 1/(1+1-1) = 1000.
        assert all(r.jaccard_permille == 1000 for r in out)

    def test_cap_noop_matches_uncapped(self, spark):
        node_jaccard_from_edges = self._fn()

        rows = [
            (c, s)
            for c in range(1, 21)
            for s in range(1, 6)
            if (c + s) % 3 != 0
        ]
        e = self._edges(spark, rows)
        capped = node_jaccard_from_edges(e, hub_cap=1024, topn=100).collect()
        uncapped = node_jaccard_from_edges(
            e, hub_cap=1 << 30, topn=100
        ).collect()
        assert [tuple(r) for r in capped] == [tuple(r) for r in uncapped]

    def test_binding_cap_matches_duckdb_twin(self, spark):
        import duckdb

        node_jaccard_from_edges = self._fn()

        cap = 4
        rows = [
            (c, s)
            for c in range(1, 11)
            for s in range(1, 13)
            if (c * 7 + s * 5) % 4 != 0  # ragged baskets, some > cap
        ]
        got = sorted(
            tuple(r)
            for r in node_jaccard_from_edges(
                self._edges(spark, rows), hub_cap=cap, topn=10_000
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE e0(cust BIGINT, supp BIGINT)"
        )
        con.executemany("INSERT INTO e0 VALUES (?, ?)", rows)
        want = sorted(
            tuple(r)
            for r in con.execute(
                f"""
                WITH e AS (
                    SELECT cust, supp FROM (
                        SELECT cust, supp, row_number() OVER (
                            PARTITION BY cust ORDER BY supp) AS rn
                        FROM e0
                    ) WHERE rn <= {cap}
                ), deg AS (
                    SELECT supp, count(*) AS d FROM e GROUP BY supp
                ), co AS (
                    SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
                    FROM e a JOIN e b
                      ON a.cust = b.cust AND a.supp < b.supp
                    GROUP BY 1, 2
                )
                SELECT co.s1, co.s2, co.shared,
                       CAST(co.shared * 1000
                            // (d1.d + d2.d - co.shared) AS BIGINT)
                FROM co
                JOIN deg d1 ON d1.supp = co.s1
                JOIN deg d2 ON d2.supp = co.s2
                """
            ).fetchall()
        )
        assert got == want

    def test_plan_has_no_cross_product(self, spark):
        node_jaccard_from_edges = self._fn()

        rows = [(c, s) for c in range(1, 6) for s in range(1, 6)]
        plan = (
            node_jaccard_from_edges(self._edges(spark, rows))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
