"""Stat-checked ``zipimporter.invalidate_caches`` for CPython < 3.13.

Every Spark task runs ``importlib.invalidate_caches()`` in its Python
worker (``pyspark.worker_util.setup_spark_files``). Before 3.13 that makes
each zipimporter — one per package path, 16 in a worker, 12 of them over
``pyspark.zip`` and its 1,328 entries — re-read its archive's whole
central directory: about 0.12 CPU-s per task for archives that never
change (4-vCPU VM, Spark 4.1.2, CPython 3.11). This replacement re-reads an
archive only when its ``(st_mtime_ns, st_size)`` changed since that path
was last read; otherwise it re-points the importer at the shared
``zipimport._zip_directory_cache`` entry. 3.13 made the method lazy
upstream, so there this module does nothing. Importing the package
installs it, so every worker that unpickles an engine closure uses it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when it was last read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self) -> None:
    """Reload the archive's file data if the archive changed on disk."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    try:
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
        _read_stamps[self.archive] = stamp
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        _read_stamps.pop(self.archive, None)
        self._files = {}


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
