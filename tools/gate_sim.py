"""Simulate the driver's correctness gate locally.

Runs the first N entries of ``queries()`` (default
``registry.DRIVER_SAMPLE_SIZE``, the driver's sample) at sf0.01 with
the driver-faithful comparator from tests/oracle_harness.py, and prints
one status line per query plus a JSON summary. Use before a round ends
to confirm the sample the driver will check is green.

Usage: python tools/gate_sim.py [N] [sf_dir] [out.json] [--plain]

--plain uses a PLAIN SparkSession (Spark-4 defaults, non-UTC timezone)
instead of the engine's get_spark — the strictest driver simulation;
combine with a /tmp cwd so worker-importability bugs surface too.

The per-query result map is written to the git-ignored
.bench/gate_sim_last.json by default; pass a third argument to write
elsewhere (e.g. tools/gate_sim_full.json for the committed full-depth
run).
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))
sys.path.insert(0, str(REPO_ROOT / "tests"))
DEFAULT_OUT = REPO_ROOT / ".bench" / "gate_sim_last.json"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv[1:]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    import oracle_harness as H

    from dynamodb_stream_processor_2_0_spark.plans import registry

    n = int(args[0]) if len(args) > 0 else registry.DRIVER_SAMPLE_SIZE

    if plain:
        # Strictest driver simulation: a PLAIN session — default configs
        # (Spark-4 defaults: ANSI on, AQE on, shuffle.partitions=200),
        # a NON-UTC timezone, and whatever cwd this process launched
        # from. Catches config the engine must set at runtime (e.g.
        # load_table's nanosAsLong sniff) and worker-importability bugs
        # (run from /tmp: cloudpickle by-reference references die in the
        # workers — the r11 multimodal/python-datasource class).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .appName("gate-sim-plain")
            .getOrCreate()
        )
    else:
        from dynamodb_stream_processor_2_0_spark.session import get_spark

        spark = get_spark("gate-sim")
    spark.sparkContext.setLogLevel("ERROR")

    names = list(registry.all_queries())[:n]
    results: dict[str, dict] = {}
    for name in names:
        spec = registry.get(name)
        t0 = time.time()
        try:
            if spec.oracle is None:
                rows = spec.fn(spark, sf_dir).count()
                status, detail = "pass(rows-only)", f"rows={rows}"
            else:
                H.compare_query(spark, spec, sf_dir)
                status, detail = "pass", ""
        except Exception as exc:  # noqa: BLE001 - gate sim reports all
            status = "FAIL"
            detail = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(limit=3)
        dt = time.time() - t0
        results[name] = {"status": status, "sec": round(dt, 2), "detail": detail[:500]}
        print(f"{status:16s} {dt:6.2f}s  {name}  {detail[:160]}")

    n_fail = sum(1 for r in results.values() if r["status"] == "FAIL")
    print(json.dumps({"checked": len(results), "failed": n_fail}))
    out = Path(args[2]) if len(args) > 2 else DEFAULT_OUT
    # parent may not exist for a custom out-path; never lose the
    # per-query map after a full (expensive) run (r8 ADVICE item 3)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(results, indent=1))
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
