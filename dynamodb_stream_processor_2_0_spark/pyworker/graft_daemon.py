"""Python worker daemon: ``pyspark.daemon`` with a stat-keyed zip cache.

``session.get_spark`` names this module in ``spark.python.daemon.module``
and puts this directory (and only it) on ``spark.executorEnv.PYTHONPATH``,
so a worker imports it from any cwd while the package itself stays
unimportable there (``tests/test_worker_importability.py``). It imports
only the stdlib and pyspark.

Why: before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory at once, and a worker holds one zipimporter per
package directory it imported from ``pyspark.zip`` (1,328 entries, 16
importers). That re-read was 0.41 s of a 0.45 s pandas-UDF task under
cProfile, paid once per Python task. The replacement keys the re-read on
``os.stat(archive)``: an unchanged archive keeps its cached directory; a
rewritten or missing one is re-read as before, so an ``addPyFile`` that
rewrites a zip is still picked up. CPython 3.13 already drops the cache
and re-reads lazily, so there the daemon changes nothing.

Workers fork from the daemon, so patching it before ``manager()``
patches every worker.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size, st_ino) when its directory was
# last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    # stat before the read: an archive rewritten in between keeps the
    # old stamp, so the next call reads it again; a failed read leaves
    # no cached directory, so the next call reads again too
    _stdlib_invalidate(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


def install() -> bool:
    """Swap in the stat-keyed ``invalidate_caches``; False where the
    stdlib is already lazy (CPython >= 3.13)."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp every archive imported so far, once: workers forked after
    # this read nothing on their first task
    importlib.invalidate_caches()
    return True


if __name__ == "__main__":
    # imports pyspark.worker too, so pyspark.zip is stamped below
    import pyspark.daemon

    # install from the module, not __main__, so a worker can name the
    # patch it runs under (graft_daemon.invalidate_caches)
    import graft_daemon

    graft_daemon.install()
    pyspark.daemon.manager()
