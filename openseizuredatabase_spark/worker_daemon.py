"""PySpark worker daemon that keeps zip-import directories across tasks.

Before every task a reused PySpark worker calls
``importlib.invalidate_caches()``. On CPython < 3.12 that makes each
``zipimporter`` on ``sys.path`` re-read its archive's central directory
in pure Python, and Spark puts ``pyspark.zip``, the py4j zip and the
spark-core jar at the front of every worker's path: about 0.2 s of
fixed cost per Python task. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since the last read. CPython 3.12
reads lazily, so there the daemon is stock. ``session.get_spark``
launches workers through this module (``spark.python.daemon.module``).
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def main() -> None:
    from pyspark import daemon

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read and stamp each archive once here, so forked workers inherit
        # the stamps and never re-read an unchanged archive
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                importer.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run by ``python -m``: call the importable module's ``main`` so the
    # installed method belongs to ``openseizuredatabase_spark.worker_daemon``
    from openseizuredatabase_spark.worker_daemon import main as _main

    _main()
