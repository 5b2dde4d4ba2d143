"""Physical-plan shape assertions: the scale properties SCALE.md
claims (pruning, broadcast, co-location, no global windows) must be
visible in the executed plan, not just asserted in prose."""

from __future__ import annotations

import pytest

from dynamodb_stream_processor_2_0_spark.plans import registry


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange_on_join_key(spark, sf_dir):
    df = registry.get("bucketed_colocated_join").fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan  # bucketed scan actually used
    below_join = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning(o_orderkey" not in below_join
    assert "Exchange hashpartitioning(l_orderkey" not in below_join


def test_partitioned_source_prunes(spark, sf_dir):
    df = registry.get("source_partitioned_pruning").fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "PartitionFilters: [isnotnull(event_type" in plan.replace("#", " #").replace(
        "event_type#", "event_type "
    ) or "PartitionFilters" in plan
    # the pruned scan must not carry the predicate as a post-scan filter
    assert "PartitionCount: 1" in plan or "PartitionFilters" in plan


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _executed_plan(registry.get("q9_profit_by_nation_year").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the only allowed shuffle joins are fact-fact on orderkey
    assert plan.count("SortMergeJoin") <= 1


def test_no_single_partition_global_window(spark, sf_dir):
    """No registered batch query may compile to a global (empty
    partition spec) window — Spark funnels those through one task."""
    plan = _executed_plan(registry.get("corpus_shuffle_interleave").fn(spark, sf_dir))
    assert "SinglePartition" not in plan


def test_orc_roundtrip_pushes_filters(spark, sf_dir):
    df = registry.get("source_orc_roundtrip").fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "PushedFilters: [" in plan
    assert "In(event_type" in plan


@pytest.mark.slow
def test_engine_wide_plan_lint(spark, sf_dir):
    """Every registered batch query must be free of the scale
    anti-patterns: CartesianProduct (unbounded pair blowup),
    BatchEvalPython (row-at-a-time Python — Arrow paths only), and a
    Window fed by a single-partition exchange (all data through one
    task). One-row scalar-aggregate exchanges are legitimate and not
    flagged."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    failures = {}
    for name in sorted(registry.all_queries()):
        q = registry.get(name)
        if "streaming" in q.tags:
            continue  # streaming plans are checked by their e2e tests
        plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("BatchEvalPython(row-at-a-time)")
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Window" in line and "WindowGroupLimit" not in line:
                below = " ".join(lines[i + 1 : i + 3])
                if "Exchange SinglePartition" in below:
                    flags.append("global-window")
                    break
        if flags:
            failures[name] = flags
    assert not failures, f"plan lint failures: {failures}"


def test_bitmap_semi_join_broadcasts_bitmap_not_keys(spark, sf_dir):
    """The runtime-filter join must broadcast the folded (bucket, mask)
    bitmap — a BroadcastHashJoin fed by the bit_or aggregate — and the
    customer side must stay exchange-free below the join."""
    df = registry.get("bitmap_semi_join_runtime_filter").fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "bit_or" in plan  # the mask fold feeds the broadcast side
    before_join = plan.split("BroadcastHashJoin", 1)[0]
    assert "Exchange hashpartitioning(c_custkey" not in before_join


def test_function_batteries_are_map_only(spark, sf_dir):
    """The scalar batteries are pure map stages: no exchange, no
    Python eval, one codegen span over the scan."""
    for name in (
        "scalar_function_battery",
        "datetime_function_battery",
        "regex_function_battery",
        "array_function_battery",
        "json_function_battery",
        "conditional_bitwise_battery",
    ):
        plan = _executed_plan(registry.get(name).fn(spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name
        # '*(1)' is toString()'s WholeStageCodegen marker
        assert "*(1)" in plan, name


def test_paragraph_dedup_partial_aggregates(spark, sf_dir):
    """Both counting shuffles must partial-aggregate map-side (two
    HashAggregate pairs), so the exchange carries per-group partials."""
    plan = _executed_plan(registry.get("dedup_paragraph_exact").fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4


def test_aqe_coalesces_oversized_shuffle(spark, sf_dir_medium):
    """Scale posture: with a hostile 200-partition config, AQE must
    coalesce the post-shuffle partitions of a small aggregation instead
    of running 200 near-empty reducers."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = registry.get("q1_pricing_summary").fn(spark, sf_dir_medium)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead coalesced" in plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_dynamic_partition_pruning_in_plan(spark, sf_dir):
    """The runtime-dim join must inject a dynamicpruning subquery on the
    partition column of the staged fact scan (no literal predicate
    exists at plan time), and the dim side must broadcast."""
    df = registry.get("source_dynamic_partition_pruning").fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "dynamicpruning" in plan
    assert "BroadcastHashJoin" in plan


def test_dataset_split_assign_is_map_only(spark, sf_dir):
    """The split assigner claims zero shuffles: the whole plan must be
    one codegen span over the scan (an ORDER BY would betray itself
    here as a rangepartitioning Exchange)."""
    plan = _executed_plan(registry.get("dataset_split_assign").fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "*(1)" in plan


def test_priority_sample_single_source_shuffle(spark, sf_dir):
    """Weighted priority sampling pays exactly one hash exchange (the
    per-source rank window); the priority arithmetic is map-side and
    the top-25 is pushed to the map side as a partial WindowGroupLimit."""
    plan = _executed_plan(
        registry.get("sample_priority_weighted").fn(spark, sf_dir)
    )
    # AQE's toString repeats the pre-adaptive plan under '== Initial
    # Plan =='; assert on the final section only.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    assert "WindowGroupLimit" in final and "Partial" in final
    assert "BatchEvalPython" not in final


def test_trending_decay_uses_take_ordered(spark, sf_dir):
    """The global top-20 must compile to TakeOrderedAndProject (bounded
    per-partition heaps + driver merge), never a full global sort."""
    plan = _executed_plan(registry.get("trending_decay_topk").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_quality_classifier_is_jvm_side(spark, sf_dir):
    """The hashed linear model is pure expressions: no Python eval of
    any kind may appear in the plan (weights derive from md5 in the
    JVM), and the doc aggregation must partial-aggregate map-side."""
    plan = _executed_plan(
        registry.get("quality_classifier_score").fn(spark, sf_dir)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_semantic_dedup_assignment_is_arrow_batched(spark, sf_dir):
    """k-means assignment must run as Arrow-batched mapInPandas (the
    int64 matmul kernel), never row-at-a-time Python. The registered
    query pins (localCheckpoints) the assignment, so its final plan
    starts from a materialized RDD — inspect the assignment builder's
    own plan instead."""
    from dynamodb_stream_processor_2_0_spark.operators import clustering as C
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = C.with_quant_vec(emb.select("vec_id", "embedding"))
    assigned = C._assign_batched(q, [(0, [0] * 64), (1, [1] * 64)])
    plan = _executed_plan(assigned)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_pagerank_dangling_mass_broadcasts(spark, sf_dir):
    """The dangling-mass 1-row aggregate must enter the rank update as
    a broadcast (in-plan), not a shuffled join."""
    plan = _executed_plan(
        registry.get("graph_pagerank_fixpoint").fn(spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bloom_prefilter_probe_side_shuffle_free(spark, sf_dir):
    """The Bloom word table reaches the probe via BroadcastHashJoin
    (twice), built from a map-side-combinable bit_or fold; the probed
    customer scan must not be hash-exchanged before the joins."""
    df = registry.get("bloom_filter_dedup_prefilter").fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # 2 bloom probes + audit
    assert "bit_or" in plan
    before_first_join = plan.split("BroadcastHashJoin", 1)[0]
    assert "Exchange hashpartitioning(c_custkey" not in before_first_join


def test_lm_surprisal_partial_aggregates(spark, sf_dir):
    """The bigram tf and lm aggregations must map-side combine
    (partial_count/partial_sum before their exchanges), and the corpus
    total must cross as a broadcast, not a shuffle."""
    df = registry.get("text_lm_surprisal_score").fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_interval_overlap_join_is_pairfree_sweep(spark, sf_dir):
    """The r12 endpoint-sweep rewrite must compile to aggregates + one
    window pass with NO join of any kind — the former banded pair join
    materialized O(n^2/day) pairs (1.7B at sf1.0) for a counts-only
    output; any join reappearing here means the pair enumeration is
    back. All-JVM: no Python eval node."""
    plan = _executed_plan(registry.get("interval_overlap_join").fn(spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_skew_profile_partial_aggregates(spark, sf_dir):
    """Every per-key frequency count must partial-aggregate map-side —
    the raw tables are the only big input and each contributes one
    HashAggregate pair."""
    plan = _executed_plan(registry.get("data_skew_profile").fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 8


def test_correlated_subqueries_decorrelate(spark, sf_dir):
    """The correlated-subquery battery must compile to JOINS — a
    per-row subquery node surviving to the physical row path would be
    a nested loop over the fact table at 100 TB."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    df = registry.get("sql_correlated_subquery_battery").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") >= 3
    assert "InSubqueryExec" not in plan
