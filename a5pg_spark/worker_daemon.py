"""Spark's Python worker daemon, as ``get_spark`` starts it
(``spark.python.daemon.module``).

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.12 that makes
each ``zipimporter`` re-parse its archive's whole central directory in Python:
the ~16 importers cached for ``pyspark.zip`` cost about 0.2 s of CPU per task
(DESIGN.md §7.2).  On those versions this daemon installs an
``invalidate_caches`` that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since it was read, then runs the stock
``pyspark.daemon``, whose forked workers inherit the method.  A changed or
new zip (``addPyFile``) is still read.  CPython 3.12 made the invalidation
lazy (gh-103200), so there the stock daemon runs unchanged.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> its (st_mtime_ns, st_size) when its entry in zipimport's
# directory cache was read
_read_at: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that takes the cached directory
    while the archive's stat is the one it was read at."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate_caches(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
    else:
        _stock_invalidate_caches(self)
        _read_at[self.archive] = stamp


def main() -> None:
    from pyspark import daemon

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here, so forked workers inherit its stat
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run under the import name, so the installed method's __module__ names
    # this module and not __main__
    from a5pg_spark.worker_daemon import main

    main()
