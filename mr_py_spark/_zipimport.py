"""Stat-gated ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). Before 3.13 that
makes every cached ``zipimporter`` re-read its archive's central
directory: about 17 importers per task, most of them paths inside
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries). A reused worker
paid 230-370 ms of CPU per task for it, even on a no-op ``mapInArrow``.
CPython 3.13 made the invalidation lazy.

The replacement keeps an archive's directory while the archive's
``(st_mtime_ns, st_size)`` equals the key recorded at its last read
(the convention of ``bucketed._src_stamp``). Otherwise it calls the
original, which re-reads the directory or drops it on
``ZipImportError``. One record per archive serves all of that
archive's importers. A rewritten archive, such as the per-process
package zip a new session ships, is re-read, so import semantics do
not change (up to a rewrite that keeps both size and mtime).

``mr_py_spark/__init__.py`` imports this module first: a worker imports
the package as soon as it unpickles any package function, and never
runs ``session.py``.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` once; a no-op on 3.13+."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return
    # archive path -> (st_mtime_ns, st_size) when its directory was last read
    read_keys: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_keys.get(self.archive) == key:
            self._files = files
            return
        original(self)  # stat before the read: a later rewrite changes the key
        if key is not None and self.archive in zipimport._zip_directory_cache:
            read_keys[self.archive] = key
        else:
            read_keys.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
