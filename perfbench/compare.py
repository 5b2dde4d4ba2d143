"""Compare two benchmark result records metric by metric.

    python3 perfbench/compare.py .perfbench/results/A.json .perfbench/results/B.json

Refuses (exit 2) when the records come from different workloads, core
counts or Spark masters: such figures do not compare.
"""

from __future__ import annotations

import json
import sys

MUST_MATCH = ("cpus", "master")


def compare(a: dict, b: dict) -> list[tuple[str, float, float, float]]:
    """(metric, a, b, b/a) per metric both records carry; raises
    ValueError when the records are not comparable."""
    if a["workload"] != b["workload"]:
        raise ValueError(f"workloads differ: {a['workload']} vs {b['workload']}")
    for key in MUST_MATCH:
        if a["env"].get(key) != b["env"].get(key):
            raise ValueError(f"{key} differs: {a['env'].get(key)} vs {b['env'].get(key)}")
    rows = []
    for name, m in a["metrics"].items():
        if name in b["metrics"]:
            va, vb = m["value"], b["metrics"][name]["value"]
            rows.append((name, va, vb, vb / va if va else float("nan")))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    try:
        rows = compare(a, b)
    except ValueError as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 2
    for name, va, vb, ratio in rows:
        print(f"{name:32s} {va:14.6g} {vb:14.6g} {ratio:8.3f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
