"""Stat-checked zip directory cache for Python workers.

PySpark's per-task ``setup_spark_files`` calls ``importlib.invalidate_caches()``.
Before CPython 3.13 that makes every cached ``zipimporter`` re-read its
archive's whole central directory: one read per importer, not per archive,
and a Python worker holds a dozen importers on ``pyspark.zip`` plus two
each on the spark-core jar and py4j.  On a 4-core host (Python 3.11, PySpark 4.1) that
measured 0.13-0.24 s of every task, against ~10 ms of BM25 kernel per query.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)`` changed
since the last read, or when the archive is not in
``zipimport._zip_directory_cache``; otherwise it re-points the importer at
the shared cached directory.  A changed or removed archive still goes
through the original method.  CPython 3.13+ drops the cache entry and
re-reads lazily, so there ``install()`` does nothing.

The package ``__init__`` calls ``install()``.  Unpickling an engine UDF
imports ``lucene_spark`` in the worker, so every later task of that
(reused) worker process skips the re-reads; the first task still pays them.
"""

import os
import sys
import zipimport

__all__ = ["install"]


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent; no-op on 3.13+)."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    # archive path -> its signature when its cached directory was read;
    # archives cached before install() are taken as unchanged since
    signatures = {a: s for a in list(cache) if (s := _signature(a)) is not None}

    def invalidate_caches(self):
        sig = _signature(self.archive)
        files = cache.get(self.archive)
        if files is not None and sig is not None and signatures.get(self.archive) == sig:
            self._files = files
            return
        reread(self)
        if self.archive in cache and sig is not None:
            signatures[self.archive] = sig
        else:
            signatures.pop(self.archive, None)

    invalidate_caches.__doc__ = reread.__doc__
    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches
