"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

Every Python task calls ``importlib.invalidate_caches()`` while it sets
up its files (``pyspark.worker_util.setup_spark_files``).  Before
CPython 3.12 (gh-103200 made it lazy) that makes every ``zipimporter``
the worker holds re-read its archive's whole directory.  Spark puts two
big archives on the workers' ``sys.path``: ``spark-core_*.jar`` (5,359
entries) and ``pyspark.zip`` (1,328 entries), and each package imported
from an archive gets a ``zipimporter`` of its own: a pandas UDF worker
does 16 directory reads, about 0.2 s of CPU, on every task.  This daemon
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since the last read, then runs ``pyspark.daemon`` unchanged.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps an unchanged archive's directory."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here, so the forked workers inherit the stamps
        importlib.invalidate_caches()
    daemon.manager()
