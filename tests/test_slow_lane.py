"""Every SLOW_TESTS entry (tests/conftest.py) must name a test the suite
collects — a test function that exists and, for a ``[param]`` entry, an
id its parametrization produces. A stale entry would silently move a
slow test into the default lane. Spark-free: one collect-only run."""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import REPO_ROOT, SLOW_TESTS


def test_every_slow_entry_is_collected():
    files = sorted({entry.split("::")[0] for entry in SLOW_TESTS})
    # -m "" lifts the default lane's `not slow` filter so the slow
    # items are listed too
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-m", "",
         "-p", "no:cacheprovider", *(f"tests/{f}" for f in files)],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
    )
    collected = {
        line.removeprefix("tests/")
        for line in out.stdout.splitlines()
        if line.startswith("tests/") and "::" in line
    }
    stale = sorted(SLOW_TESTS - collected)
    assert not stale, f"SLOW_TESTS entries not collected: {stale}\n{out.stdout[-2000:]}"
