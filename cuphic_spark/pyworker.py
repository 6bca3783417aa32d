"""Lazy zip-archive cache invalidation inside PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``). Before
CPython's gh-103200 fix, ``zipimporter.invalidate_caches`` eagerly
re-reads the archive's whole central directory in pure Python, once per
cached importer. A worker caches about 16 of them over ``pyspark.zip``,
the py4j zip and the spark-core jar, so each task pays 0.15-0.3 core-s
before it reads a row. ``install`` backports the fix: invalidation pops
the shared ``zipimport._zip_directory_cache`` entry, and the next lookup
re-reads the archive once, on first use.

Every cuphic UDF closure refers to a ``cuphic_spark`` module, so a reused
worker installs this when it unpickles its first cuphic task; every
later task skips the re-reads. Outside a worker nothing is touched.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(
                self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    """Invalidates the cache of file data of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make zipimporter invalidation lazy, unless the interpreter's
    zipimport already is (upstream's lazy form has ``_get_files``)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return
    # __init__ assigns _files after caching it under the archive path,
    # so the setter has nothing left to store
    cls._files = property(_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches


def in_worker() -> bool:
    """True inside a PySpark task: the worker sets the TaskContext
    before it unpickles the task's functions."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None
