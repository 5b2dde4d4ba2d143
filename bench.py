"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric", "value", "unit", "queries", "sf", ...}.

The full per-query map goes to the git-ignored
.bench/bench_sf{sf}_c{cpus}.json, or to $SPARK_GRAFT_BENCH_FULL_OUT. A
sweep is compared with nothing: a speed claim comes from a same-session
A/B of the two trees (tools/ab.py).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

# Headline set: flagship pipeline + the heaviest relational / extension ops.
HEADLINE = [
    "pipeline_disposition_summary",
    "pipeline_disposition_ledger",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "topk_orders_per_customer",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "text_quality_score",
    "session_window_12h",
]


def artifact_path(sf: str, cpus: int) -> Path:
    """Default path of the per-query artifact, keyed by scale and width."""
    return REPO_ROOT / ".bench" / f"bench_sf{sf}_c{cpus}.json"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from dynamodb_stream_processor_2_0_spark.plans import registry
    from dynamodb_stream_processor_2_0_spark.session import get_spark
    from perfbench.batch import Runner

    registry._load()
    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism
    master = spark.sparkContext.master

    # Warm the JVM + parquet footers with a trivial action, so the
    # numbers measure the queries, not session startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Sweep order: headline first (fresh JVM — the driver's protocol),
    # then everything else ALPHABETICALLY. Registry dict order rotates
    # every round (the driver-sample rotation in plans/registry.py), so
    # sweeping in registry order would shift each query's JIT-warm-up
    # position round over round and confound cross-round per-query
    # diffs (the round-6 "TEXT family 2x" investigation traced exactly
    # this: byte-identical plans timed at different sweep positions).
    # Alphabetical order is rotation-independent and stable across
    # rounds as long as the query set itself is stable.
    names = [n for n in HEADLINE if n in registry.REGISTRY]
    names += sorted(n for n in registry.REGISTRY if n not in names)
    # Streaming-tagged entries run a full Structured Streaming query
    # (staging + micro-batches); they are correctness-gated by the
    # driver but excluded from the throughput bench.
    names = [n for n in names if "streaming" not in registry.REGISTRY[n].tags]

    # Sweep hygiene: a query must not inherit another query's session
    # state. Runner.call starts every call from the start-up conf (a
    # query that sets a key and leaves it would otherwise change every
    # query swept after it) with no cached relations, and times it to
    # the end of a `noop` write, which materializes every column without
    # driver-side result transfer.
    runner = Runner(spark, sf_dir)

    timings: dict[str, float] = {}
    cold_timings: dict[str, float] = {}
    total = 0.0
    for name in names:
        cold = runner.call(name, False)  # warm-up: JIT + codegen compile
        # Steady state is the MIN of two post-warm-up runs: profile-
        # guided JIT keeps compiling past run 2 for the heavier plans
        # (dedup_minhash_lsh measured 2.4s on run 2 vs 1.66s settled),
        # and min-of-N is the standard noise-robust point estimate.
        dt = min(runner.call(name, False), runner.call(name, False))
        timings[name] = round(dt, 3)
        cold_timings[name] = round(cold, 3)
        total += dt
        print(f"# {name}: {dt:.3f}s (cold {cold:.3f}s)", file=sys.stderr)

    # Headline queries run FIRST (fresh JVM), so profile-guided JIT
    # systematically disadvantages them versus queries timed after
    # ~240 plans have compiled the common operator paths. Re-measure
    # the headline set on the now-fully-warmed JVM and keep the min —
    # the steady-state number a long-running cluster session would
    # see (same rule as the existing min-of-two within a query).
    # BOTH protocols are reported in the JSON line (value = steady,
    # value_cold_position = the pre-re-measure sweep-position number)
    # so round-over-round comparisons can stay protocol-consistent.
    cold_position = {n: timings[n] for n in HEADLINE if n in timings}
    for name in cold_position:
        dt = min(runner.call(name, False), runner.call(name, False))
        if dt < timings[name]:
            total -= timings[name] - round(dt, 3)
            timings[name] = round(dt, 3)
        print(f"# {name} (steady): {dt:.3f}s", file=sys.stderr)

    # The driver records only the tail of stdout and parses the final
    # JSON line; round 1's line carried every per-query timing (~3 KB)
    # and was truncated past parseability ("parsed": null in
    # BENCH_r01.json). Keep the parsed line compact: headline timings
    # inline, the full per-query map on stderr and in the artifact.
    print("# full timings: " + json.dumps(timings), file=sys.stderr)
    print(f"# conf leaks (restored before each call): {sorted(runner.leaks)}", file=sys.stderr)
    headline_total = sum(timings[n] for n in HEADLINE if n in timings)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_value = float(sf) if sf.replace(".", "").isdigit() else sf
    full_out = Path(
        os.environ.get("SPARK_GRAFT_BENCH_FULL_OUT") or artifact_path(sf, cpus)
    )
    full_out.parent.mkdir(parents=True, exist_ok=True)
    full_out.write_text(
        json.dumps(
            {
                "sf": sf_value,
                "cpus": cpus,
                "master": master,
                "n_queries": len(timings),
                "steady_sec": timings,
                "cold_first_run_sec": cold_timings,
                "headline_cold_position_sec": cold_position,
            },
            indent=1,
            sort_keys=True,
        )
    )
    print(f"# full timing artifact: {full_out}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": round(headline_total, 3),
                "value_cold_position": round(sum(cold_position.values()), 3),
                "unit": "sec",
                "queries": {n: timings[n] for n in HEADLINE if n in timings},
                "queries_cold_position": cold_position,
                "all_queries_total_sec": round(total, 3),
                "n_queries": len(timings),
                # The resolved core count and master string, so a reader
                # can check that $SPARK_GRAFT_CPUS was honored.
                "cpus": cpus,
                "master": master,
                "sf": sf_value,
            }
        )
    )


if __name__ == "__main__":
    main()
