"""Worker-importability lint: no pickled closure may reference a
module-level function or class from this package.

cloudpickle pickles NESTED functions by value, but any module-level
function/class they reference is pickled BY REFERENCE
(module.qualname) — so the Python worker must be able to import this
package. The driver inserts the repo on ITS OWN sys.path only; workers
inherit the launch cwd, so a session started from any other directory
dies with ModuleNotFoundError inside the first mapInPandas batch
(found live in r11: every multimodal kernel referenced the
module-level ``_as_bytes`` and crashed the driver-hostile /tmp
session; operators/multimodal.py now documents the local by-value-twin
convention).

The lint walks every nested function in the engine and flags
references to module-level defs. Driver-side-only closures (decorator
factories, foreachBatch callbacks — those execute in the driver
process, where the package IS importable) are allowlisted explicitly
so a new worker-pickled closure cannot silently reopen the class.

r12 extension (closing the r11 ADVICE gap): the lint also flags names
bound at module level by PACKAGE-INTERNAL imports — both
``from ..operators.x import helper`` (relative, or absolute under the
package root) and ``import dynamodb_stream_processor_2_0_spark.m as
m`` used as ``m.helper`` inside a nested function. Those pickle by
reference exactly like same-file defs: cloudpickle stores
(module, qualname) and the worker import dies from a hostile cwd.
External imports (pyspark, numpy, ...) are fine — workers can import
those without the repo on sys.path — so only package-internal bindings
are collected.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "dynamodb_stream_processor_2_0_spark"

# (relative path, nested function name, referenced module-level name)
# — closures that run in the DRIVER process only, never pickled to a
# Python worker.
DRIVER_SIDE_ALLOWLIST = {
    # @register decorator factory: runs at import time, driver only
    ("plans/registry.py", "deco", "QuerySpec"),
    # foreachBatch callback: Structured Streaming invokes it in the
    # driver with a batch DataFrame — never shipped to workers
    ("streaming/sinks.py", "write", "envelope"),
    # plan-builder helper: called once at plan-construction time in the
    # driver (pure Catalyst expressions, no UDF); the `dedup` module
    # reference is resolved before any task is serialized
    ("plans/queries_dedup.py", "prefix_pairs", "dedup"),
    # sources.formats.staged write callbacks: called once in the driver
    # to fill a staging directory, never shipped to workers
    ("plans/queries_ingest_ext.py", "write", "formats"),
    ("plans/queries_ingest_ext.py", "write", "load_table"),
    ("plans/queries_pipeline.py", "write", "load_table"),
    ("plans/queries_relational.py", "write", "load_table"),
    ("plans/queries_streaming_batch.py", "write", "load_table"),
    ("sources/dynamodb_stream.py", "write", "events_as_stream_json"),
}


PKG_NAME = "dynamodb_stream_processor_2_0_spark"


def _internal_import_bindings(tree: ast.Module) -> set[str]:
    """Names bound at module level by package-internal imports.

    ``from . import x`` / ``from ..operators.x import helper`` (any
    relative level) and ``from dynamodb_stream_processor_2_0_spark.x
    import helper`` all bind names that cloudpickle serializes BY
    REFERENCE when used inside a nested (worker-pickled) function.
    ``import dynamodb_stream_processor_2_0_spark.x as m`` binds a module
    alias whose attribute access inside a closure has the same failure
    mode — the alias name itself is collected; the Name-load check
    catches ``m`` wherever it appears (including as ``m.helper``).
    """
    bound: set[str] = set()
    for n in tree.body:
        if isinstance(n, ast.ImportFrom):
            if n.level > 0 or (n.module or "").split(".")[0] == PKG_NAME:
                bound |= {a.asname or a.name for a in n.names if a.name != "*"}
        elif isinstance(n, ast.Import):
            for a in n.names:
                if a.name.split(".")[0] == PKG_NAME:
                    # `import pkg.sub` binds `pkg`; `import pkg.sub as m`
                    # binds `m`
                    bound.add(a.asname or a.name.split(".")[0])
    return bound


def _violations() -> list[str]:
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        mod_defs = {
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        flagged = mod_defs | _internal_import_bindings(tree)

        class V(ast.NodeVisitor):
            def __init__(self):
                self.depth = 0

            def visit_FunctionDef(self, node):
                self.depth += 1
                if self.depth >= 2:
                    args = {a.arg for a in node.args.args}
                    args |= {a.arg for a in node.args.kwonlyargs}
                    seen = set()
                    for sub in ast.walk(node):
                        if (
                            isinstance(sub, ast.Name)
                            and isinstance(sub.ctx, ast.Load)
                            and sub.id in flagged
                            and sub.id not in args
                            and sub.id not in seen
                        ):
                            seen.add(sub.id)
                            if (rel, node.name, sub.id) not in DRIVER_SIDE_ALLOWLIST:
                                out.append(
                                    f"{rel}:{sub.lineno} nested `{node.name}` "
                                    f"references module-level `{sub.id}` — "
                                    "pickled by reference; inline a by-value "
                                    "twin (see operators/multimodal.py) or, "
                                    "if the closure is driver-side only, add "
                                    "it to DRIVER_SIDE_ALLOWLIST with a why"
                                )
                self.generic_visit(node)
                self.depth -= 1

            visit_AsyncFunctionDef = visit_FunctionDef

        V().visit(tree)
    return out


def test_no_worker_pickled_closure_references_module_level_defs():
    v = _violations()
    assert not v, "\n".join(v)


def test_allowlist_entries_still_exist():
    """An allowlist row whose closure disappeared is stale — prune it."""
    live = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        mod_defs = {
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        flagged = mod_defs | _internal_import_bindings(tree)

        class V(ast.NodeVisitor):
            def __init__(self):
                self.depth = 0

            def visit_FunctionDef(self, node):
                self.depth += 1
                if self.depth >= 2:
                    for sub in ast.walk(node):
                        if isinstance(sub, ast.Name) and sub.id in flagged:
                            live.add((rel, node.name, sub.id))
                self.generic_visit(node)
                self.depth -= 1

            visit_AsyncFunctionDef = visit_FunctionDef

        V().visit(tree)
    stale = DRIVER_SIDE_ALLOWLIST - live
    assert not stale, f"stale allowlist rows: {sorted(stale)}"


PYWORKER = PKG / "pyworker"


def test_daemon_directory_holds_only_the_daemon():
    """``session.get_spark`` puts this directory on the workers'
    PYTHONPATH; anything else in it would be importable in a worker,
    and an ``__init__.py`` would make the directory a package path."""
    names = sorted(p.name for p in PYWORKER.iterdir() if p.name != "__pycache__")
    assert names == ["graft_daemon.py"]


def test_daemon_imports_only_stdlib_and_pyspark():
    """A worker imports the daemon with the package NOT importable, so
    the daemon may import only the stdlib, pyspark and itself."""
    import sys

    tree = ast.parse((PYWORKER / "graft_daemon.py").read_text())
    roots = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom):
            assert n.level == 0, f"relative import at line {n.lineno}"
            roots.add(n.module.split(".")[0])
        elif isinstance(n, ast.Import):
            roots |= {a.name.split(".")[0] for a in n.names}
    foreign = roots - set(sys.stdlib_module_names) - {"pyspark", "graft_daemon"}
    assert not foreign, f"graft_daemon imports {sorted(foreign)}"
