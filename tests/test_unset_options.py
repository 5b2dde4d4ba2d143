"""Every defaulted parameter of a package function is set by some call.

A default that no call overrides is a constant written as an option:
the parameter goes and its one value is written in place. Calls are
looked for in the package, tests/, tools/, perfbench/, bench.py and
__spark_entry__.py, and matched to a function by name, so only
functions whose name the package defines once are checked, and a
function with a ``*args``/``**kwargs`` call site is skipped (which
parameters such a call sets cannot be read off the call).
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "dynamodb_stream_processor_2_0_spark"


def _sources() -> list[Path]:
    paths = []
    for d in (PKG, ROOT / "tests", ROOT / "tools", ROOT / "perfbench"):
        paths += sorted(d.rglob("*.py"))
    return paths + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    return f.attr if isinstance(f, ast.Attribute) else None


def unset_parameters() -> list[str]:
    defs, calls = defaultdict(list), defaultdict(list)
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text())):
            if PKG in path.parents and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                defs[node.name].append((path, node))
            elif isinstance(node, ast.Call) and _called_name(node):
                calls[_called_name(node)].append(node)
    unset = []
    for name, found in defs.items():
        sites = calls[name]
        if len(found) != 1 or any(
            isinstance(a, ast.Starred) for c in sites for a in c.args
        ) or any(k.arg is None for c in sites for k in c.keywords):
            continue
        path, fn = found[0]
        args = fn.args
        pos = args.posonlyargs + args.args
        # a method called as obj.m(...) does not pass self/cls
        shift = 1 if pos and pos[0].arg in ("self", "cls") else 0
        defaulted = [
            (i, a.arg) for i, a in enumerate(pos) if i >= len(pos) - len(args.defaults)
        ] + [
            (None, a.arg)
            for a, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None
        ]
        for index, arg in defaulted:
            if not any(
                any(k.arg == arg for k in c.keywords)
                or (
                    index is not None
                    and len(c.args)
                    + (shift if isinstance(c.func, ast.Attribute) else 0)
                    > index
                )
                for c in sites
            ):
                unset.append(f"{path.relative_to(ROOT)}:{fn.lineno} {name}({arg})")
    return sorted(unset)


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = unset_parameters()
    assert not unset, "parameters that no call sets:\n" + "\n".join(unset)
