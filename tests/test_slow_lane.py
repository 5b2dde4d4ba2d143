"""Every registered query tagged ``slow`` must have its sf0.001 parity
cell in the slow lane: collected under ``-m slow`` and so deselected by
the default lane's ``not slow`` filter. Spark-free: one collect-only run."""

from __future__ import annotations

import subprocess
import sys

from dynamodb_stream_processor_2_0_spark.plans import registry
from tests.conftest import REPO_ROOT


def test_every_slow_entry_is_collected():
    registry._load()
    slow = {n for n, s in registry.REGISTRY.items() if "slow" in s.tags}
    assert slow, "no registered query is tagged slow"
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-m", "slow",
         "-p", "no:cacheprovider", "tests/test_oracle_parity.py"],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
    )
    collected = set(out.stdout.splitlines())
    missing = sorted(
        n for n in slow
        if f"tests/test_oracle_parity.py::test_parity_small[{n}]" not in collected
    )
    assert not missing, f"slow-tagged queries outside the slow lane: {missing}\n{out.stdout[-2000:]}"
