"""Same-session A/B of registry queries: REF's package (A) against the
working tree's (B), alternated in one warm Spark session.

Usage: python tools/ab.py REF NAME [NAME ...] [--pairs N] [--sf DIR]

REF is checked out into a temporary git worktree, removed on exit. Both
packages are imported here, each keeping its own ``sys.modules`` entries,
swapped in before every call because builders import lazily inside their
bodies. Workers need no swap: their closures are pickled by value
(tests/test_worker_importability.py). The session is the working tree's
``session.get_spark`` on ``local[$SPARK_GRAFT_CPUS]``, as in bench.py.

A side failing its DuckDB oracle gate is reported and not timed. Each pair
runs every query untraced (timed) and traced (layers) on each side, the
side going first alternating. Per query: each side's min and median, the
min ratio B/A, B's wins, the layer medians and the physical-operator
counts that differ. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import importlib
import json
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from perfbench import common  # noqa: E402
from perfbench.batch import Runner, gate, layer_metrics  # noqa: E402

PKG = "dynamodb_stream_processor_2_0_spark"
# one plan-tree line: the branch prefix, a codegen stage marker, the node
_NODE = re.compile(r"^[ :|+-]*(?:\*\(\d+\) )?(\w+)", re.M)


def _pop_package() -> dict:
    """Take the package's modules out of ``sys.modules`` and return them."""
    return {n: sys.modules.pop(n) for n in list(sys.modules) if n == PKG or n.startswith(PKG + ".")}


class Side:
    """One tree's package: its modules while swapped out, its Runner and
    what was measured on it."""

    def __init__(self, label: str, modules: dict):
        self.label, self.modules = label, modules
        self.failures: dict[str, str] = {}
        self.samples: dict[str, list[float]] = collections.defaultdict(list)
        self.layers: dict[str, list[dict]] = collections.defaultdict(list)
        self.operators: dict[str, collections.Counter] = {}


def load(label: str, root: Path) -> Side:
    """Import the package (and its registry) from ``root``, then take its
    modules out of ``sys.modules``. A package that is already imported
    is snapshot as it is, so it must come from ``root``."""
    root = Path(root).resolve()
    sys.path.insert(0, str(root))
    try:
        importlib.import_module(f"{PKG}.plans.registry")._load()
    finally:
        sys.path.remove(str(root))
    modules = _pop_package()
    origin = Path(modules[PKG].__file__).resolve()
    if root not in origin.parents:
        sys.modules.update(modules)
        raise RuntimeError(f"{PKG} is loaded from {origin}, not from {root}")
    return Side(label, modules)


def install(side: Side) -> dict:
    """Put ``side``'s package in ``sys.modules``; return the one it replaces."""
    previous = _pop_package()
    sys.modules.update(side.modules)
    return previous


@contextlib.contextmanager
def swapped(side: Side):
    """``side``'s package in ``sys.modules`` for the block; modules it
    imports lazily meanwhile stay with it. The session keeps one wire
    DataSource class per name, so the side's once-per-session memo is
    cleared: its calls register its own classes again."""
    previous = install(side)
    if (wire := side.modules.get(f"{PKG}.sources.python_datasource")) is not None:
        wire._REGISTERED.clear()
    try:
        yield
    finally:
        side.modules = _pop_package()
        sys.modules.update(previous)


def operators(runner: Runner, name: str) -> collections.Counter:
    """Physical-operator counts of the plan the query's DataFrame executes."""
    runner.conf.restore()
    runner.spark.catalog.clearCache()
    df = runner.registry[name].fn(runner.spark, runner.sf_dir)
    return collections.Counter(_NODE.findall(df._jdf.queryExecution().executedPlan().toString()))


def compare(spark, a: Side, b: Side, names: list[str], pairs: int, sf_dir: str) -> dict:
    """Gate both sides, alternate the ones that pass, and summarize."""
    cpus = spark.sparkContext.defaultParallelism
    for side in (a, b):
        with swapped(side):
            side.runner = Runner(spark, sf_dir)
            side.failures = gate(spark, names, sf_dir, side.runner.conf)
            if not side.failures:
                side.operators = {n: operators(side.runner, n) for n in names}
        for name, msg in side.failures.items():
            common.log(f"{side.label} fails the gate on {name}, not timed: {msg}")
    timed = [s for s in (a, b) if not s.failures]
    for i in range(pairs):
        order = timed if i % 2 == 0 else timed[::-1]
        for name in names:
            for traced in (False, True):
                for side in order:
                    with swapped(side):
                        first = len(side.runner.spans)
                        dt = side.runner.call(name, traced)
                        if traced:
                            side.layers[name].append(layer_metrics(side.runner.spans[first:], cpus))
                        else:
                            side.samples[name].append(dt)
    return summarize(a, b, names)


def summarize(a: Side, b: Side, names: list[str]) -> dict:
    queries = {}
    for name in names:
        q = {}
        for side in (a, b):
            xs, layers = side.samples.get(name), side.layers.get(name)
            if xs:
                q[side.label] = dict(
                    min=min(xs), median=common.median(xs),
                    layers={k: common.median([m[k] for m in layers]) for k in layers[0]},
                )
        if a.label in q and b.label in q:
            q["min_ratio"] = q[b.label]["min"] / q[a.label]["min"]
            q["b_wins"] = sum(y < x for x, y in zip(a.samples[name], b.samples[name]))
        if name in a.operators and name in b.operators:
            oa, ob = a.operators[name], b.operators[name]
            q["operators"] = {op: [oa[op], ob[op]] for op in sorted(oa | ob) if oa[op] != ob[op]}
        queries[name] = q
    return dict(gate_failures={a.label: a.failures, b.label: b.failures}, queries=queries)


def report(result: dict, a: Side, b: Side, pairs: int) -> None:
    for name, q in result["queries"].items():
        print(name)
        for side in (a, b):
            s = q.get(side.label)
            print(f"  {side.label} " + (f"min {s['min']:.3f} s  median {s['median']:.3f} s" if s else "not timed"))
        if "min_ratio" in q:
            print(f"  min ratio B/A {q['min_ratio']:.3f}; B faster in {q['b_wins']}/{pairs} pairs")
        sides = [side.label for side in (a, b) if side.label in q]
        if sides:
            print(f"  {'layer medians':<26}" + "".join(f"{s:>12}" for s in sides))
            for k in q[sides[0]]["layers"]:
                print(f"  {k:<26}" + "".join(f"{q[s]['layers'][k]:12.4f}" for s in sides))
        if "operators" in q:
            ops = ", ".join(f"{op} {na} -> {nb}" for op, (na, nb) in q["operators"].items())
            print(f"  operator counts A -> B: {ops or 'same'}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("ref", help="git revision of side A; B is the working tree")
    p.add_argument("names", nargs="+", help="registered query names")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    args = p.parse_args()
    from dynamodb_stream_processor_2_0_spark.session import get_spark
    spark = get_spark("ab")
    env = dict(cpus=spark.sparkContext.defaultParallelism, master=spark.sparkContext.master)
    b = load("B", REPO_ROOT)
    tmp = tempfile.mkdtemp(prefix="ab-ref-")
    git = ["git", "-C", str(REPO_ROOT), "worktree"]
    try:
        subprocess.run(git + ["add", "--detach", tmp, args.ref], check=True, stdout=subprocess.DEVNULL)
        a = load("A", Path(tmp))
        result = compare(spark, a, b, args.names, args.pairs, args.sf)
        print(f"A = {args.ref}, B = working tree; {args.pairs} pairs at {args.sf}")
        report(result, a, b, args.pairs)
    finally:
        install(b)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(git + ["prune"], check=False)
        spark.stop()
    result.update(ref=args.ref, pairs=args.pairs, sf=args.sf, **env)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
