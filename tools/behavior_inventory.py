"""Generate the COVERAGE.md behavior-test inventory (r7 verdict item 5).

Classifies EVERY registered query by how its correctness is verified
beyond the Spark/DuckDB twin-formula parity gate:

- B (behavior): a planted-fixture / axiom test in tests/ references the
  query by name — the expected answer is recomputed in an independent
  third implementation (the device documented in
  tests/test_round7_behavior.py). Auto-discovered by grep; listed with
  the test files.
- D (definitional): the query is a direct transcription of a standard
  declarative specification — TPC-H text, ANSI join/set/window/rollup
  semantics, a function battery of built-in expressions, or a SQL
  dialect-transparency op where the SAME string runs on both engines.
  Here the DuckDB oracle is an independent ENGINE evaluating the same
  specification, not a same-author derived formula, so the
  twin-formula risk the behavior tests exist for does not arise.
  Hand-curated list below.
- R (roundtrip/mechanism): the query's own gate IS an end-to-end
  mechanism proof — it stages data through the format/sink under test
  and verifies the read-back, or proves a rewritten arm equal to a
  plain arm inside the query. Hand-curated list below.
- S (streaming-golden): Structured Streaming e2e queries; semantics
  covered by the golden tests in tests/test_streaming*.py and
  tests/test_stream_pipeline_e2e.py plus rows-only driver checks.
  Auto-derived from the registry 'streaming' tag.
- G (GAP): twin-formula parity only — the honest remainder, counted
  explicitly so it can only shrink deliberately.

B takes precedence over every other class; S over D/R/G.

Usage:
  python tools/behavior_inventory.py           # print the section
  python tools/behavior_inventory.py --write   # splice into COVERAGE.md
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

# tests that are parity/meta machinery, not behavior evidence
NON_BEHAVIOR_TESTS = {
    "test_oracle_parity.py",
    "oracle_harness.py",
    "conftest.py",
    "test_coverage_doc.py",
    "test_registry_order.py",
    "__init__.py",
    "test_partition_independence.py",
    # robustness (fail-open on hostile worlds), not answer verification:
    # quoting a query there must not promote it to behavior-tested
    "test_hostile_worlds.py",
    "test_ab.py",  # uses a query to exercise tools/ab.py
    "test_formats.py",  # builds queries to exercise load_table and staging
}

# Direct transcriptions of a declarative spec (see module docstring).
DEFINITIONAL = {
    # TPC-H-style battery: the published query text is the spec
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_region_revenue", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_national_market_share",
    "q9_profit_by_nation_year", "q10_returned_items",
    "q11_important_balance", "q12_ship_delay_priority",
    "q13_order_count_distribution", "q14_promo_revenue",
    "q15_top_supplier", "q16_supplier_variety", "q17_small_quantity_revenue",
    "q18_large_volume_customer", "q19_disjunctive_revenue",
    "q20_dominant_supplier", "q21_last_supplier_wait",
    "q22_idle_rich_customers",
    # ANSI relational operators applied plainly (no derived arithmetic)
    "semi_join_customers_with_orders", "anti_join_customers_without_orders",
    "full_outer_nation_balance", "right_outer_supplier_lines",
    "nullsafe_join_dispositions", "set_ops_customer_segments",
    "sort_limit_top_orders", "topk_orders_per_customer",
    "agg_having_priorities", "rollup_returnflag_status",
    "cube_priority_status", "grouping_sets_priority_status",
    "pivot_status_by_priority", "unpivot_nation_metrics",
    "window_running_sum", "window_function_battery",
    "window_range_frame_moving_sum", "market_basket_pairs",
    "agg_value_percentiles", "agg_exact_percentiles",
    # function batteries: built-in expression transcriptions
    "scalar_function_battery", "array_function_battery",
    "json_function_battery", "regex_function_battery",
    "map_struct_function_battery", "datetime_function_battery",
    "conditional_bitwise_battery", "variant_json_shred",
    # SQL surface / dialect transparency: the SAME ANSI string (or a
    # front-end proven to parse to the identical plan) runs on both
    # engines
    "sql_api_shared_dialect", "sql_group_by_all_dialect",
    "sql_lateral_topk_per_customer", "sql_pipe_syntax_rollup",
    "sql_correlated_subquery_battery", "sql_scripting_coverage_walk",
    "sql_udf_temp_function", "sql_parameterized_query",
    # reference §2 scalar/filter/projection ops: direct expression
    # transcriptions of index.js semantics (filters, key building,
    # regex validation, JSON encode/decode, struct/array shaping) —
    # pinned in the driver covering set with a green row every round
    "f1_change_type_filter",
    "p1_typed_parse_projection", "p5_key_building", "f8_email_validation",
    "p7_nested_document_build", "p8_array_transform_slice",
    "p10_priority_routing", "a2_existence_per_key", "a3_failure_list",
    "p11_envelope_json", "e1_error_isolation", "s1_stream_record_parse",
    "pipeline_disposition_ledger", "d2_cdc_old_new_diff",
    "d3_state_lookup_routing",
    "e2_corrupt_record_routing",
}

# The query's own gate is an end-to-end mechanism proof (stages its own
# data and verifies the read-back, or carries an exact arm / pinned
# accuracy claim inside the result it gates on).
ROUNDTRIP = {
    "source_csv_roundtrip", "source_jsonl_roundtrip", "source_orc_roundtrip",
    "source_partitioned_pruning", "source_dynamic_partition_pruning",
    "source_python_datasource", "source_python_pushdown_pruning",
    "source_schema_evolution_merge", "source_union_schema_harmonize",
    "sink_python_datasource_roundtrip",
    "skew_salted_agg",        # salted arm proven equal to plain agg in-gate
    "skew_replicated_join",   # replicated arm proven equal to plain join
    "approx_stats_scale_path",    # deterministic error-band oracle in-gate
    "agg_hll_accuracy_pinned",    # 5% accuracy claim inside the gate
    "sketch_reaggregate_rollup",  # union-merge law + 5% claim in-gate
    "rolling_7d_active_users",    # exact arm + 5% sketch claim in-gate
    "aqp_sampled_sum_estimate",   # estimate vs exact arm + realized error
    "table_integrity_checksum",   # order-invariant checksum vs full scan
    "zorder_vs_linear_skipping",  # both layouts measured in one result
    "bloom_filter_dedup_prefilter",  # FP confusion audit in-gate
    "bitmap_semi_join_runtime_filter",  # filtered arm vs plain semi join
    "ann_recall_eval",            # recall vs exact brute-force arm in-gate
    "dedup_minhash_calibration",  # banded estimate vs exact Jaccard in-gate
    "dedup_simhash_threshold_sweep",  # candidates vs exact-verified dups
    "eval_dedup_method_agreement",    # cross-method confusion in-gate
}


def build() -> str:
    from dynamodb_stream_processor_2_0_spark.plans import registry

    registry._load()
    refs: dict[str, list[str]] = {}
    for f in sorted((REPO_ROOT / "tests").glob("*.py")):
        if f.name in NON_BEHAVIOR_TESTS:
            continue
        text = f.read_text()
        for q in registry.REGISTRY:
            # Require a QUOTED usage ("name" / 'name'), not a bare word
            # match: a docstring or comment mention must not promote a
            # query from G to B.  Tests reference queries as string
            # literals (_run(spark, "name", ...), REGISTRY["name"]), so
            # quoted-usage is the honest signal. (r8 ADVICE item 1.)
            if re.search(rf"[\"']{re.escape(q)}[\"']", text):
                refs.setdefault(q, []).append(f.name)

    def classify(q: str) -> tuple[str, str]:
        if q in refs:
            return "B", ", ".join(refs[q])
        if "streaming" in registry.REGISTRY[q].tags:
            return "S", ""
        if q in DEFINITIONAL:
            return "D", ""
        if q in ROUNDTRIP:
            return "R", ""
        return "G", ""

    by_mod: dict[str, list[tuple[str, str, str]]] = {}
    counts = {"B": 0, "D": 0, "R": 0, "S": 0, "G": 0}
    for q, spec in registry.REGISTRY.items():
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        cls, detail = classify(q)
        counts[cls] += 1
        by_mod.setdefault(mod, []).append((q, cls, detail))

    lines = [
        "Verification classes: **B** planted/axiom behavior test (third "
        "implementation; files listed) · **D** definitional (direct "
        "transcription of a declarative ANSI/TPC-H/function-battery/"
        "dialect spec — the oracle is an independent engine on the same "
        "spec, so no same-author derived formula exists to twin) · "
        "**R** roundtrip/mechanism (the gate itself is an end-to-end "
        "mechanism proof: staged-format read-back, rewritten-arm-equals-"
        "plain-arm, or a pinned accuracy claim inside the result) · "
        "**S** streaming-golden (tests/test_streaming*.py + "
        "tests/test_stream_pipeline_e2e.py goldens; rows-only driver "
        "checks) · **G** GAP: twin-formula parity only.",
        "",
        f"Totals: {counts['B']} B / {counts['D']} D / {counts['R']} R / "
        f"{counts['S']} S / **{counts['G']} G** of "
        f"{len(registry.REGISTRY)} registered queries.",
        "",
    ]
    for mod in sorted(by_mod):
        lines.append(f"### {mod}")
        lines.append("")
        for q, cls, detail in sorted(by_mod[mod]):
            suffix = f" ({detail})" if detail else ""
            lines.append(f"- `{q}` — **{cls}**{suffix}")
        lines.append("")
    return "\n".join(lines).rstrip() + "\n"


BEGIN = "<!-- BEGIN behavior-test inventory (tools/behavior_inventory.py) -->"
END = "<!-- END behavior-test inventory -->"


def main() -> None:
    section = build()
    block = (
        f"{BEGIN}\n## Behavior-test inventory (auto-generated — "
        f"`python tools/behavior_inventory.py --write`)\n\n{section}{END}\n"
    )
    if "--write" in sys.argv:
        cov = REPO_ROOT / "COVERAGE.md"
        text = cov.read_text()
        if BEGIN in text:
            pre = text[: text.index(BEGIN)]
            post = text[text.index(END) + len(END) + 1 :]
            cov.write_text(pre + block + post)
        else:
            cov.write_text(text.rstrip() + "\n\n" + block)
        print(f"wrote inventory into {cov}")
    else:
        print(block)


if __name__ == "__main__":
    main()
