"""Stat-gated ``zipimporter.invalidate_caches`` for CPython < 3.12.

Every Spark Python worker call (DataSource planning and read tasks,
pandas UDFs, streaming readers) runs ``importlib.invalidate_caches()``
in ``pyspark.worker_util.setup_spark_files``.  Before CPython 3.12 that
makes every cached ``zipimporter`` re-parse its whole archive
directory: pyspark.zip (~1.3k entries, one importer per imported
sub-package) and the Spark jar on ``sys.path`` (~5.4k entries) cost
~200 ms per call (SCALE.md, "Python worker round trips"), more than
the work most calls do.  CPython 3.12 made the re-read lazy, so there
this is a no-op.

The gated version re-reads only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken before
its last read, or when its directory has left
``zipimport._zip_directory_cache``; otherwise the importer adopts the
cached directory.  A changed archive is re-read exactly as before, and
the importers of one archive share a single re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_gated", False):
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
