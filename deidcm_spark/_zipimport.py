"""Lazy zip-import cache invalidation for the Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  Before CPython
3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
whole central directory on the spot.  A worker's ``sys.path`` holds
``pyspark.zip`` (~1.3k entries) and the py4j zip, and every subpackage
imported from them keeps its own importer, so each task re-read those
directories ~16 times: 0.2-0.45 s per Python task on a 4-core host, next to
a few ms of actual UDF work.

:func:`install` gives ``zipimporter`` the semantics CPython 3.13 ships:
invalidation only drops the archive's entry from
``zipimport._zip_directory_cache`` and the next lookup re-reads it, so an
archive that changed is still seen and one that did not costs nothing.
Importing ``deidcm_spark`` installs it, so every task after a worker's first
runs with it.  On a Python whose ``zipimporter`` already has ``_get_files``
(the lazy implementation) it does nothing.
"""

from __future__ import annotations

import os
import zipimport

# this interpreter's zipimporter invalidates lazily on its own (3.13+)
NATIVE_LAZY = hasattr(zipimport.zipimporter, "_get_files")

# lazy invalidations served by the shim in this process
lazy_invalidations = 0


def _get_files(self):
    """The archive's directory: cached, or read now if it was invalidated
    (or is unreadable, which yields an empty directory, as on 3.13)."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _set_files(self, files):
    # zipimporter.__init__ assigns ``_files`` BEFORE ``archive``, right after
    # storing the same directory in _zip_directory_cache: the cache is the
    # only store, and ``self.archive`` must not be touched here
    pass


def _invalidate_caches(self):
    """Drop the archive's directory; the next lookup re-reads it."""
    global lazy_invalidations
    zipimport._zip_directory_cache.pop(self.archive, None)
    lazy_invalidations += 1


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy; True if this call
    changed anything (False when already lazy, natively or by a previous
    call)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    cls._get_files = _get_files
    cls._files = property(_get_files, _set_files)
    cls.invalidate_caches = _invalidate_caches
    return True


def worker_report(batches):
    """``mapInArrow`` function: one row per task with the worker's pid and
    its lazy-invalidation count so far.  In a reused worker, a count above
    the previous task's shows that task's start-up invalidation was lazy."""
    import pyarrow as pa

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({
        "pid": pa.array([os.getpid()], pa.int64()),
        "lazy_invalidations": pa.array([lazy_invalidations], pa.int64()),
    })
