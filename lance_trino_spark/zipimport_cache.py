"""A stat-keyed ``zipimporter.invalidate_caches`` for CPython < 3.13.

Every PySpark worker call runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``): the planner workers behind
``format("lance")``'s ``load()`` and scan planning, and every executor
task. A worker imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
and holds one ``zipimporter`` per imported subpackage (about 15). On
CPython 3.11 each of them answers ``invalidate_caches`` by re-reading the
archive's central directory, so every worker call re-read the
1,328-entry zip ~15 times, 116-143 ms per call. The replacement re-reads
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` changed since
the directory cached in ``zipimport._zip_directory_cache`` was read.

CPython 3.13 made the method lazy (it only drops the cached directory,
which the next lookup re-reads through ``zipimporter._get_files``), so
nothing is installed there; 3.12.1 still re-reads eagerly. An archive
rewritten in place with the same size within one mtime tick goes unseen,
as in ``format.statcache``.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport


def install_zip_directory_cache() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` (idempotent)."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    if getattr(stock, "_stat_keyed", False):
        return
    # archive -> stat key taken just before the stock method read it; a
    # change between that stat and the read shows as a new key next time
    read_at: dict[str, tuple[int, int, int]] = {}
    lock = threading.Lock()  # the stat, the read and the record go together

    def invalidate_caches(self):
        """Reload the archive's file data only when its stat changed."""
        archive = self.archive
        with lock:
            try:
                st = os.stat(archive)
            except OSError:  # gone or unreadable: stock drops the directory
                read_at.pop(archive, None)
                return stock(self)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
            files = zipimport._zip_directory_cache.get(archive)
            if files is not None and read_at.get(archive) == key:
                self._files = files
                return
            stock(self)
            if archive in zipimport._zip_directory_cache:
                read_at[archive] = key
            else:
                read_at.pop(archive, None)

    invalidate_caches._stat_keyed = True
    cls.invalidate_caches = invalidate_caches
