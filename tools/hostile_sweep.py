"""Hostile-data crash sweep: run every registered batch query against
adversarial tiny worlds and report crashes.

The driver gate proves Spark/DuckDB parity on the generated testdata;
it cannot catch fail-closed crashes on data shapes the generator never
emits (round 8's kappa div-zero crashed BOTH engines identically; round
9's variant_get INVALID_VARIANT_CAST would have killed the job on any
wrong-typed JSON field). This sweep probes exactly that class:

- world "degenerate": 1-4 rows per table, every numeric value equal
  (zero variance / zero range / single group), single-day timestamps,
  self-referential keys — the denominators-are-zero world.
- world "nulls": nullable columns NULL wherever the schema allows,
  empty strings, empty text, wrong-typed and malformed JSON props,
  zero-length embedding arrays.
- world "empty": every table present but 0 rows.

A query PASSES if .collect() returns (any rows, including none) and
FAILS if it raises. Streaming-tagged queries are skipped by default
(each one runs a full availableNow Structured Streaming query, ~20s);
pass --streaming to include them — the round-9 probe ran all 16
streaming e2e queries against all three worlds: 16/16 pass each (the
replay staging, watermarking, and state paths already degrade to empty
results on empty/NULL/degenerate input). Results print one line per
failure plus a JSON summary; exit code 1 if any query crashed.

Usage: python tools/hostile_sweep.py [--streaming] [world ...]
       (default worlds: all three); statuses go to .bench/hostile_sweep_last.json
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import sys
import tempfile
import traceback
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))
OUT = REPO_ROOT / ".bench" / "hostile_sweep_last.json"


def _write(tmp: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), f"{tmp}/{name}.parquet")


def _ts(s: str):
    return dt.datetime.fromisoformat(s)


def build_degenerate(tmp: str) -> None:
    """All values equal; single groups; zero spans."""
    t0 = _ts("2024-01-01 00:00:00")
    _write(tmp, "region", {
        "r_regionkey": pa.array([0], pa.int32()),
        "r_name": pa.array(["ASIA"], pa.string()),
    })
    _write(tmp, "nation", {
        "n_nationkey": pa.array([1], pa.int32()),
        "n_name": pa.array(["NATION_1"], pa.string()),
        "n_regionkey": pa.array([0], pa.int32()),
    })
    _write(tmp, "customer", {
        "c_custkey": pa.array([1, 2], pa.int64()),
        "c_name": pa.array(["Cust#1", "Cust#1"], pa.string()),
        "c_nationkey": pa.array([1, 1], pa.int32()),
        "c_acctbal": pa.array([0.0, 0.0], pa.float64()),
        "c_mktsegment": pa.array(["BUILDING", "BUILDING"], pa.string()),
    })
    _write(tmp, "supplier", {
        "s_suppkey": pa.array([1], pa.int64()),
        "s_name": pa.array(["Supp#1"], pa.string()),
        "s_nationkey": pa.array([1], pa.int32()),
        "s_acctbal": pa.array([0.0], pa.float64()),
    })
    _write(tmp, "part", {
        "p_partkey": pa.array([1], pa.int64()),
        "p_name": pa.array(["part part part"], pa.string()),
        "p_brand": pa.array(["Brand#1"], pa.string()),
        "p_type": pa.array(["STANDARD"], pa.string()),
        "p_size": pa.array([1], pa.int32()),
        "p_retailprice": pa.array([1.0], pa.float64()),
    })
    _write(tmp, "orders", {
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_custkey": pa.array([1, 1], pa.int64()),
        "o_orderstatus": pa.array(["F", "F"], pa.string()),
        "o_totalprice": pa.array([1.0, 1.0], pa.float64()),
        "o_orderdate": pa.array([t0, t0], pa.timestamp("us")),
        "o_orderpriority": pa.array(["1-URGENT", "1-URGENT"], pa.string()),
    })
    _write(tmp, "lineitem", {
        "l_orderkey": pa.array([1, 2], pa.int64()),
        "l_partkey": pa.array([1, 1], pa.int64()),
        "l_suppkey": pa.array([1, 1], pa.int64()),
        "l_linenumber": pa.array([1, 1], pa.int32()),
        "l_quantity": pa.array([1.0, 1.0], pa.float64()),
        "l_extendedprice": pa.array([1.0, 1.0], pa.float64()),
        "l_discount": pa.array([0.0, 0.0], pa.float64()),
        "l_tax": pa.array([0.0, 0.0], pa.float64()),
        "l_returnflag": pa.array(["N", "N"], pa.string()),
        "l_linestatus": pa.array(["O", "O"], pa.string()),
        "l_shipdate": pa.array([t0, t0], pa.timestamp("us")),
    })
    # every event identical: one type, one user, one instant, one value
    _write(tmp, "events", {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([t0, t0, t0], pa.timestamp("us")),
        "user_id": pa.array([1, 1, 1], pa.int64()),
        "event_type": pa.array(["click", "click", "click"], pa.string()),
        "value": pa.array([1.0, 1.0, 1.0], pa.float64()),
        "props": pa.array(['{"k": 1}', '{"k": 1}', '{"k": 1}'], pa.string()),
    })
    # identical docs (total duplication), plus a single-token doc
    _write(tmp, "documents", {
        "doc_id": pa.array([0, 1, 2], pa.int64()),
        "text": pa.array(["same same same", "same same same", "x"], pa.string()),
        "lang": pa.array(["en", "en", "en"], pa.string()),
        "source": pa.array(["s", "s", "s"], pa.string()),
        "n_chars": pa.array([14, 14, 1], pa.int64()),
    })
    # all-equal embeddings: zero variance, zero distances, norm ties
    _write(tmp, "embeddings", {
        "vec_id": pa.array([0, 1, 2], pa.int64()),
        "embedding": pa.array([[1.0] * 8] * 3, pa.list_(pa.float32())),
        "label": pa.array([0, 0, 0], pa.int32()),
    })


def build_nulls(tmp: str) -> None:
    """NULLs / empties wherever plausible at 100 TB."""
    t0 = _ts("2024-01-01 00:00:00")
    t1 = _ts("2024-01-02 00:00:00")
    _write(tmp, "region", {
        "r_regionkey": pa.array([0, 1], pa.int32()),
        "r_name": pa.array(["ASIA", "EUROPE"], pa.string()),
    })
    _write(tmp, "nation", {
        "n_nationkey": pa.array([1, 2], pa.int32()),
        "n_name": pa.array(["NATION_1", "NATION_2"], pa.string()),
        "n_regionkey": pa.array([0, 1], pa.int32()),
    })
    _write(tmp, "customer", {
        "c_custkey": pa.array([1, 2, 3], pa.int64()),
        "c_name": pa.array(["Cust#1", "", "Cust#3"], pa.string()),
        "c_nationkey": pa.array([1, 2, 1], pa.int32()),
        "c_acctbal": pa.array([10.0, None, -5.0], pa.float64()),
        "c_mktsegment": pa.array(["BUILDING", None, "MACHINERY"], pa.string()),
    })
    _write(tmp, "supplier", {
        "s_suppkey": pa.array([1, 2], pa.int64()),
        "s_name": pa.array(["Supp#1", ""], pa.string()),
        "s_nationkey": pa.array([1, 2], pa.int32()),
        "s_acctbal": pa.array([10.0, None], pa.float64()),
    })
    _write(tmp, "part", {
        "p_partkey": pa.array([1, 2], pa.int64()),
        "p_name": pa.array(["small red widget", ""], pa.string()),
        "p_brand": pa.array(["Brand#1", None], pa.string()),
        "p_type": pa.array(["STANDARD", None], pa.string()),
        "p_size": pa.array([1, None], pa.int32()),
        "p_retailprice": pa.array([1.0, None], pa.float64()),
    })
    _write(tmp, "orders", {
        "o_orderkey": pa.array([1, 2, 3], pa.int64()),
        "o_custkey": pa.array([1, 2, 1], pa.int64()),
        "o_orderstatus": pa.array(["F", None, "O"], pa.string()),
        "o_totalprice": pa.array([100.0, None, 50.0], pa.float64()),
        "o_orderdate": pa.array([t0, None, t1], pa.timestamp("us")),
        "o_orderpriority": pa.array(["1-URGENT", None, "5-LOW"], pa.string()),
    })
    _write(tmp, "lineitem", {
        "l_orderkey": pa.array([1, 1, 3], pa.int64()),
        "l_partkey": pa.array([1, 2, 1], pa.int64()),
        "l_suppkey": pa.array([1, 2, 1], pa.int64()),
        "l_linenumber": pa.array([1, 2, 1], pa.int32()),
        "l_quantity": pa.array([1.0, None, 2.0], pa.float64()),
        "l_extendedprice": pa.array([10.0, None, 20.0], pa.float64()),
        "l_discount": pa.array([0.0, None, 0.1], pa.float64()),
        "l_tax": pa.array([0.0, None, 0.0], pa.float64()),
        "l_returnflag": pa.array(["N", None, "R"], pa.string()),
        "l_linestatus": pa.array(["O", None, "F"], pa.string()),
        "l_shipdate": pa.array([t0, None, t1], pa.timestamp("us")),
    })
    _write(tmp, "events", {
        "event_id": pa.array([1, 2, 3, 4, 97], pa.int64()),
        "ts": pa.array([t0, None, t1, t0, t1], pa.timestamp("us")),
        "user_id": pa.array([1, None, 2, 1, 2], pa.int64()),
        "event_type": pa.array(["click", None, "purchase", "", "error"], pa.string()),
        "value": pa.array([1.0, None, 100.0, 0.0, None], pa.float64()),
        "props": pa.array(
            ['{"k": 1}', None, '{"k": "x"}', "", '{"k'], pa.string()
        ),
    })
    _write(tmp, "documents", {
        "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
        "text": pa.array(["hello world hello", "", " ", None], pa.string()),
        "lang": pa.array(["en", None, "", "de"], pa.string()),
        "source": pa.array(["s", "", None, "t"], pa.string()),
        "n_chars": pa.array([17, 0, 1, None], pa.int64()),
    })
    _write(tmp, "embeddings", {
        "vec_id": pa.array([0, 1, 2], pa.int64()),
        "embedding": pa.array(
            [[1.0, 0.0, 0.0, 0.0], [0.0] * 4, []], pa.list_(pa.float32())
        ),
        "label": pa.array([0, None, 1], pa.int32()),
    })


def build_empty(tmp: str) -> None:
    t = pa.timestamp("us")
    _write(tmp, "region", {"r_regionkey": pa.array([], pa.int32()), "r_name": pa.array([], pa.string())})
    _write(tmp, "nation", {"n_nationkey": pa.array([], pa.int32()), "n_name": pa.array([], pa.string()), "n_regionkey": pa.array([], pa.int32())})
    _write(tmp, "customer", {"c_custkey": pa.array([], pa.int64()), "c_name": pa.array([], pa.string()), "c_nationkey": pa.array([], pa.int32()), "c_acctbal": pa.array([], pa.float64()), "c_mktsegment": pa.array([], pa.string())})
    _write(tmp, "supplier", {"s_suppkey": pa.array([], pa.int64()), "s_name": pa.array([], pa.string()), "s_nationkey": pa.array([], pa.int32()), "s_acctbal": pa.array([], pa.float64())})
    _write(tmp, "part", {"p_partkey": pa.array([], pa.int64()), "p_name": pa.array([], pa.string()), "p_brand": pa.array([], pa.string()), "p_type": pa.array([], pa.string()), "p_size": pa.array([], pa.int32()), "p_retailprice": pa.array([], pa.float64())})
    _write(tmp, "orders", {"o_orderkey": pa.array([], pa.int64()), "o_custkey": pa.array([], pa.int64()), "o_orderstatus": pa.array([], pa.string()), "o_totalprice": pa.array([], pa.float64()), "o_orderdate": pa.array([], t), "o_orderpriority": pa.array([], pa.string())})
    _write(tmp, "lineitem", {"l_orderkey": pa.array([], pa.int64()), "l_partkey": pa.array([], pa.int64()), "l_suppkey": pa.array([], pa.int64()), "l_linenumber": pa.array([], pa.int32()), "l_quantity": pa.array([], pa.float64()), "l_extendedprice": pa.array([], pa.float64()), "l_discount": pa.array([], pa.float64()), "l_tax": pa.array([], pa.float64()), "l_returnflag": pa.array([], pa.string()), "l_linestatus": pa.array([], pa.string()), "l_shipdate": pa.array([], t)})
    _write(tmp, "events", {"event_id": pa.array([], pa.int64()), "ts": pa.array([], t), "user_id": pa.array([], pa.int64()), "event_type": pa.array([], pa.string()), "value": pa.array([], pa.float64()), "props": pa.array([], pa.string())})
    _write(tmp, "documents", {"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string()), "lang": pa.array([], pa.string()), "source": pa.array([], pa.string()), "n_chars": pa.array([], pa.int64())})
    _write(tmp, "embeddings", {"vec_id": pa.array([], pa.int64()), "embedding": pa.array([], pa.list_(pa.float32())), "label": pa.array([], pa.int32())})


WORLDS = {
    "degenerate": build_degenerate,
    "nulls": build_nulls,
    "empty": build_empty,
}


def main() -> None:
    args = sys.argv[1:]
    include_streaming = "--streaming" in args
    args = [a for a in args if a != "--streaming"]
    worlds = args or list(WORLDS)
    from dynamodb_stream_processor_2_0_spark.plans import registry
    from dynamodb_stream_processor_2_0_spark.session import get_spark

    registry._load()
    spark = get_spark("hostile-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    # Positive per-query evidence, not just failures: the
    # artifact records EVERY probed query's status per world ("pass",
    # or row count "pass:<n>", or the crash message), so "N/N x 3
    # worlds" is verifiable from the file rather than asserted (r9
    # verdict item 3 — the old failures-only map committed as {}).
    statuses: dict[str, dict[str, str]] = {}
    failures: dict[str, dict[str, str]] = {}
    for world in worlds:
        tmp = tempfile.mkdtemp(prefix=f"hostile_{world}_")
        try:
            WORLDS[world](tmp)
            statuses[world] = {}
            for name in registry.all_queries():
                spec = registry.get(name)
                if "streaming" in spec.tags and not include_streaming:
                    continue
                try:
                    n_rows = len(spec.fn(spark, tmp).collect())
                    statuses[world][name] = f"pass:{n_rows}"
                except Exception as exc:  # noqa: BLE001 - sweep reports all
                    msg = f"FAIL {type(exc).__name__}: {str(exc)[:200]}"
                    statuses[world][name] = msg
                    failures.setdefault(world, {})[name] = msg
                    print(f"FAIL [{world}] {name}: {msg}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        done = len(statuses[world])
        n_fail = len(failures.get(world, {}))
        print(f"# world={world}: {done - n_fail}/{done} pass, {n_fail} crash")
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text(json.dumps(statuses, indent=1, sort_keys=True))
    print(json.dumps({w: len(f) for w, f in failures.items()}))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
