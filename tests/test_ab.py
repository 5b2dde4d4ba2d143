"""tools/ab.py: two copies of the package in one session. Each side's
registry resolves to its own tree, a side that fails its oracle gate is
not timed, each side's calls read through its own wire DataSource class,
and the working tree's modules are in ``sys.modules`` again afterwards."""

from __future__ import annotations

import importlib.util
import shutil
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
PKG = "dynamodb_stream_processor_2_0_spark"
Q1 = "q1_pricing_summary"
WIRE = "source_python_pushdown_pruning"


def _ab():
    spec = importlib.util.spec_from_file_location("ab", REPO_ROOT / "tools" / "ab.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _package():
    return {n: m for n, m in sys.modules.items() if n == PKG or n.startswith(PKG + ".")}


@pytest.fixture(scope="module")
def changed_tree(tmp_path_factory):
    """A copy of the package whose q1 result differs from the oracle."""
    root = tmp_path_factory.mktemp("ab")
    shutil.copytree(REPO_ROOT / PKG, root / PKG, ignore=shutil.ignore_patterns("__pycache__"))
    src = root / PKG / "plans" / "queries_relational.py"
    text = src.read_text()
    old = 'F.count(F.lit(1)).alias("count_order")'
    assert text.count(old) == 1
    src.write_text(text.replace(old, '(F.count(F.lit(1)) + 1).alias("count_order")'))
    return root


def test_side_failing_its_gate_is_not_timed(spark, sf_dir, changed_tree):
    ab = _ab()
    before = _package()
    work = ab.load("B", REPO_ROOT)
    try:
        changed = ab.load("A", changed_tree)
        result = ab.compare(spark, changed, work, [Q1], 1, sf_dir)
    finally:
        ab.install(work)

    for side, root in ((changed, changed_tree), (work, REPO_ROOT)):
        fn = side.modules[f"{PKG}.plans.registry"].REGISTRY[Q1].fn
        assert root.resolve() in Path(fn.__code__.co_filename).resolve().parents
    assert list(changed.failures) == [Q1]
    assert not changed.samples and "A" not in result["queries"][Q1]
    assert not work.failures
    assert len(work.samples[Q1]) == 1 and len(work.layers[Q1]) == 1
    assert result["queries"][Q1]["B"]["min"] > 0
    assert all(sys.modules[n] is m for n, m in before.items())


def test_each_side_reads_through_its_own_wire_source(spark, sf_dir, changed_tree, monkeypatch):
    """The wire DataSource classes are registered in the session by name,
    so the later side's registration replaces the earlier one's. With the
    sides alternating, every call must still run with its own side's
    class registered."""
    from pyspark.sql.datasource import DataSourceRegistration

    from perfbench.batch import Runner

    ab = _ab()
    registered: dict[str, type] = {}
    seen: list[tuple[object, type]] = []
    register, call = DataSourceRegistration.register, Runner.call

    def spy_register(self, cls):
        registered[cls.__name__] = cls
        return register(self, cls)

    def spy_call(self, name, traced):
        dt = call(self, name, traced)
        seen.append((self, registered["DynamoDBWireDataSource"]))
        return dt

    monkeypatch.setattr(DataSourceRegistration, "register", spy_register)
    monkeypatch.setattr(Runner, "call", spy_call)
    before = _package()
    work = ab.load("B", REPO_ROOT)
    try:
        changed = ab.load("A", changed_tree)
        for side in (changed, work):
            with ab.swapped(side):
                side.runner = Runner(spark, sf_dir)
        for side in (changed, work, changed):
            with ab.swapped(side):
                side.runner.call(WIRE, False)
    finally:
        ab.install(work)

    for side in (changed, work):
        own = side.modules[f"{PKG}.sources.python_datasource"].DynamoDBWireDataSource
        calls = [cls for runner, cls in seen if runner is side.runner]
        assert calls and all(cls is own for cls in calls)
    assert len(seen) == 3
    assert all(sys.modules[n] is m for n, m in before.items())
