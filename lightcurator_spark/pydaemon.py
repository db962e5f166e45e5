"""PySpark worker daemon with stat-keyed zipimport invalidation.

Run by the JVM as ``python -m lightcurator_spark.pydaemon`` (the
``spark.python.daemon.module`` conf that ``get_session()`` sets). It is
``pyspark.daemon.manager()`` after one change, made once here so every
forked worker inherits it.

Every task's worker setup (``pyspark.worker_util.setup_spark_files``)
calls ``importlib.invalidate_caches()``. Before CPython 3.12 that makes
each ``zipimporter`` on ``sys.path`` re-read its archive's whole
directory: the Spark jar, ``pyspark.zip`` and the py4j zip, measured at
0.14-0.31 s per task inside a worker. The patched
``zipimporter.invalidate_caches`` re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stat taken just
before the archive's last read, so a rewritten zip is still re-read and
its new modules still import. An archive that cannot be stat'ed, or
that has no cached directory, takes the stock path. CPython 3.12 made
the invalidation lazy, so there the daemon is the stock one.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) taken just before its last read
_STAMPS: dict[str, tuple[int, int, int]] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed since its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _STAMPS.pop(self.archive, None)
        _stock_invalidate(self)
        return
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _STAMPS[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.12 only) and
    read every archive on the path once, so forked workers start with
    their stamps taken."""
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # Under ``-m`` this file runs as ``__main__``; install the importable
    # module's copy so the patch carries this module's name.
    from lightcurator_spark import pydaemon
    from pyspark.daemon import manager

    pydaemon.install()
    manager()
