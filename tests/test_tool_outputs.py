"""A plain run of bench.py, tools/gate_sim.py or tools/hostile_sweep.py
writes its default output to a git-ignored path, so it rewrites no
tracked file. Spark-free: the scripts are imported, not run."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent


def _module(path: Path):
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(f"script_{path.stem}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def test_default_outputs_are_git_ignored():
    outputs = [
        _module(REPO_ROOT / "bench.py").artifact_path("0.1", 4),
        _module(REPO_ROOT / "tools" / "gate_sim.py").DEFAULT_OUT,
        _module(REPO_ROOT / "tools" / "hostile_sweep.py").OUT,
    ]
    for path in outputs:
        ignored = subprocess.run(
            ["git", "-C", str(REPO_ROOT), "check-ignore", "-q", str(path)]
        )
        assert ignored.returncode == 0, f"{path} is not git-ignored"
