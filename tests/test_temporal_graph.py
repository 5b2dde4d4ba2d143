"""Edge-case unit tests for the temporal/graph operator family — the
cases the sf-table parity gate cannot isolate (single-row spines,
lone-event SCD2 intervals, sub-window documents, recursion depth caps,
plan-shape claims for the gap-fill broadcast)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamodb_stream_processor_2_0_spark.plans import registry


def test_gapfill_zero_fills_silent_days(spark, sf_dir):
    rows = registry.get("timeseries_gapfill_daily").fn(spark, sf_dir).collect()
    days = [r.day for r in rows]
    # dense: one row per calendar day, no gaps between min and max
    assert len(days) == len(set(days))
    silent = [r for r in rows if r.n_orders == 0]
    assert silent, "sf data has silent days; they must appear zero-filled"
    assert all(r.revenue_cents == 0 for r in silent)


def test_gapfill_spine_join_broadcasts(spark, sf_dir):
    df = registry.get("timeseries_gapfill_daily").fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the generated spine must never be a shuffle-join side
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_recursive_walk_depth_capped_and_monotone(spark, sf_dir):
    rows = {
        r.depth: r
        for r in registry.get("recursive_order_chain_walk").fn(spark, sf_dir).collect()
    }
    assert max(rows) <= 8
    # frontier can only shrink: customers with < depth orders drop out
    counts = [rows[d].n_customers for d in sorted(rows)]
    assert counts == sorted(counts, reverse=True)
    # running totals accumulate: each level's total exceeds its frontier's prior
    assert all(rows[d].total_running_cents > 0 for d in rows)


def test_scd2_intervals_partition_time(spark, sf_dir):
    df = registry.get("scd2_user_state_build").fn(spark, sf_dir)
    one_user = df.filter(F.col("user_id") == df.select("user_id").first().user_id)
    rows = sorted(one_user.collect(), key=lambda r: r.eff_from)
    # exactly one open (current) interval per user, at the end
    assert [r.is_current for r in rows].count(True) == 1
    assert rows[-1].is_current and rows[-1].eff_to is None
    # intervals chain: each eff_to equals the next eff_from
    for a, b in zip(rows, rows[1:]):
        assert a.eff_to == b.eff_from


def test_transition_matrix_conserves_events(spark, sf_dir):
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

    trans = registry.get("events_transition_matrix").fn(spark, sf_dir)
    n_trans = trans.agg(F.sum("n_transitions")).collect()[0][0]
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # each user's k events yield exactly k-1 transitions
    assert n_trans == n_events - n_users


def test_doc_chunks_cover_short_and_long_docs(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(70)), "en", "s", 0),
            (2, "alpha beta", "en", "s", 0),
            (3, "...", "en", "s", 0),  # tokenizes to nothing -> no chunks
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "docs")
    docs.coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")
    rows = registry.get("doc_chunk_tokens").fn(spark, out).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 70 tokens, stride 24 -> starts 0,24,48 -> 3 chunks sized 32,32,22
    assert [c.n_chunk_tokens for c in sorted(by_doc[1], key=lambda r: r.chunk_id)] == [
        32,
        32,
        22,
    ]
    assert [c.n_chunk_tokens for c in by_doc[2]] == [2]
    assert 3 not in by_doc


def test_tfidf_rare_term_outranks_common(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "shared unique1 unique1", "en", "s", 0),
            (2, "shared unique2 unique2", "en", "s", 0),
            (3, "shared word3 word3", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "docs")
    docs.coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")
    rows = registry.get("text_tfidf_topk").fn(spark, out).collect()
    top = {r.doc_id: r.term for r in rows if r.rank == 1}
    # tf=2 * idf(N/df=3) = 6.0 beats shared's 1 * 3/3 = 1.0
    assert top == {1: "unique1", 2: "unique2", 3: "word3"}


def test_fk_audit_counts_planted_orphan(spark, tmp_path, sf_dir):
    import shutil
    from pyspark.sql import Row

    src = sf_dir
    out = str(tmp_path / "sf")
    shutil.copytree(src, out)
    # plant one orphaned order (custkey not in customer)
    orders = spark.read.parquet(f"{out}/orders.parquet")
    orphan = spark.createDataFrame(
        [Row(**{**orders.first().asDict(), "o_orderkey": 10**12, "o_custkey": -999})],
        orders.schema,
    )
    orders.unionByName(orphan).write.mode("overwrite").parquet(
        f"{out}/orders_new.parquet"
    )
    # driver testdata ships single-file parquet; Spark writes a dir
    import os

    os.remove(f"{out}/orders.parquet")
    shutil.move(f"{out}/orders_new.parquet", f"{out}/orders.parquet")
    rows = {r.fk: r for r in registry.get("fk_integrity_audit").fn(spark, out).collect()}
    assert rows["orders->customer"].n_orphans == 1
    assert rows["customer->nation"].n_orphans == 0


def test_recursive_walk_large_path_takes_no_broadcast(spark, sf_dir, monkeypatch):
    """Forced over the broadcast-row cap, the walk must switch to the
    bucketed co-partitioned join: no coalesce(1) single-file write, no
    BroadcastHashJoin at any recursion level (either would be the
    100 TB bottleneck), and identical results to the small path."""
    from dynamodb_stream_processor_2_0_spark.plans import queries_temporal_graph

    spec = registry.get("recursive_order_chain_walk")
    small = {(r.depth, r.n_customers, r.total_running_cents)
             for r in spec.fn(spark, sf_dir).collect()}
    monkeypatch.setattr(queries_temporal_graph, "_CHAIN_WALK_BROADCAST_ROW_CAP", 0)
    df = spec.fn(spark, sf_dir)
    large = {(r.depth, r.n_customers, r.total_running_cents)
             for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert large == small


def test_recursive_walk_raises_recursion_row_guard(spark, sf_dir):
    """Spark's cteRecursionRowLimit (default 1M) kills the walk on any
    corpus past ~1M orders — the 10x scale experiment died on it. The
    operator must size the guard from its measured ranked-side bound:
    forced below the corpus size, the query still completes."""
    prior = spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000")
    spark.conf.set("spark.sql.cteRecursionRowLimit", "10")
    try:
        spec = registry.get("recursive_order_chain_walk")
        rows = spec.fn(spark, sf_dir).collect()
        assert rows and max(r.depth for r in rows) <= 8
        assert int(spark.conf.get("spark.sql.cteRecursionRowLimit")) > 10
    finally:
        spark.conf.set("spark.sql.cteRecursionRowLimit", prior)
