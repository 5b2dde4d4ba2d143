"""The Python worker daemon (``pyworker/graft_daemon.py``).

Spark calls ``importlib.invalidate_caches()`` before every Python task;
on CPython < 3.13 that re-reads the central directory of every zip on
the worker's sys.path. The daemon re-reads an archive only when its
``os.stat`` changed. The first tests run without Spark and count
``zipimport._read_directory`` calls; the last starts a session from a
cwd where the package is not importable and asks a worker which
``invalidate_caches`` it runs.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from dynamodb_stream_processor_2_0_spark.pyworker import graft_daemon
from dynamodb_stream_processor_2_0_spark.session import PYWORKER_DIR

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAZY_STDLIB = sys.version_info >= (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    # write beside, then rename: a new inode, as a real rewrite has
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip on sys.path holding ``graft_zip_probe_a``, the daemon's
    ``invalidate_caches`` installed, and a counter of directory reads
    of that zip; all undone afterwards."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"graft_zip_probe_a": "A = 1\n"})
    # restored by monkeypatch at teardown, whatever install() sets
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(graft_daemon, "_read_stamps", {})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("graft_zip_probe_a", "graft_zip_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(LAZY_STDLIB, reason="CPython >= 3.13 re-reads lazily; the daemon is a no-op")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    import graft_zip_probe_a

    assert graft_zip_probe_a.A == 1
    reads.clear()
    assert graft_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is graft_daemon.invalidate_caches
    # install() stamps each archive once
    assert len(reads) == 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(LAZY_STDLIB, reason="CPython >= 3.13 re-reads lazily; the daemon is a no-op")
def test_rewritten_archive_is_reread_and_new_module_imports(zip_on_path):
    archive, reads = zip_on_path
    import graft_zip_probe_a  # noqa: F401

    graft_daemon.install()
    _write_zip(archive, {"graft_zip_probe_a": "A = 1\n", "graft_zip_probe_b": "B = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    import graft_zip_probe_b

    assert graft_zip_probe_b.B == 2
    # the new directory is stamped: the next call reads nothing
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(LAZY_STDLIB, reason="CPython >= 3.13 re-reads lazily; the daemon is a no-op")
def test_missing_archive_is_dropped_as_before(zip_on_path):
    archive, reads = zip_on_path
    import graft_zip_probe_a  # noqa: F401

    graft_daemon.install()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    # back again: read at once, as the stdlib does
    _write_zip(archive, {"graft_zip_probe_a": "A = 1\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]


def test_install_is_a_noop_on_a_lazy_stdlib(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert graft_daemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


_WORKER_PROBE = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from dynamodb_stream_processor_2_0_spark.session import get_spark

    spark = get_spark("graft-daemon-probe")

    @pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib.util, zipimport
        pkg = importlib.util.find_spec("dynamodb_stream_processor_2_0_spark")
        mod = zipimport.zipimporter.invalidate_caches.__module__
        return s.map(lambda _: mod + " " + str(pkg is not None))

    try:
        rows = spark.range(2).repartition(2).select(probe("id").alias("p")).collect()
        print("PROBE", sorted({{r.p for r in rows}}))
    finally:
        spark.stop()
    """
)


@pytest.mark.skipif(LAZY_STDLIB, reason="CPython >= 3.13 re-reads lazily; the daemon is a no-op")
def test_workers_run_under_the_daemon_from_a_hostile_cwd(tmp_path):
    """A session started outside the repo: workers import the daemon
    from PYWORKER_DIR, run its ``invalidate_caches``, and still cannot
    import the package."""
    assert os.path.isabs(PYWORKER_DIR)
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE.format(repo=REPO_ROOT)],
        cwd="/tmp",
        env={**os.environ, "SPARK_LOCAL_DIRS": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "PROBE ['graft_daemon False']" in out.stdout, out.stdout + out.stderr[-3000:]
