"""Each top-level test helper is defined in one test module. A second
module that needs it imports it; planted-table writers and the
registry-call helper live in tests/planted.py."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

TESTS = Path(__file__).resolve().parent


def test_no_helper_is_defined_in_two_test_modules():
    where = defaultdict(list)
    for path in sorted(TESTS.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.lower().startswith("test"):
                where[node.name].append(path.name)
    twice = {name: files for name, files in where.items() if len(files) > 1}
    assert not twice, f"helpers defined in more than one test module: {twice}"
