"""Re-read a zip archive's directory only when the archive changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimporter.invalidate_caches`` re-parses the archive's whole
central directory on every call, once per importer, and a worker that
imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB, 1,328
entries) holds one importer per imported subpackage. On a 4-core Xeon VM
that re-parse cost 0.18-0.28 s of every Python UDF task, before the UDF
ran.

:func:`install` backports the lazy behaviour of newer CPython: an archive's
directory is re-read only when its ``(st_mtime_ns, st_size, st_ino)`` differs
from the last read, so an archive rewritten in place or newly attached with
``addPyFile`` is still picked up. The package installs it on import; every
engine UDF is a closure over package functions, so a worker installs it the
first time it unpickles one.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> stat signature at its last directory read
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipping unchanged archives."""
    cache = zipimport._zip_directory_cache
    sig = _signature(self.archive)  # taken before the read: a later write re-reads
    if sig is None or self.archive not in cache or _read_at.get(self.archive) != sig:
        try:
            cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            cache.pop(self.archive, None)
            _read_at.pop(self.archive, None)
            self._files = {}
            return
        _read_at[self.archive] = sig
    self._files = cache[self.archive]


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` where it is eager. CPython
    3.13+ reads the directory on demand (``zipimporter._get_files``) and is
    left alone."""
    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
