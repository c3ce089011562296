from __future__ import annotations

import sys
import zipimport


def evict_zip_finders() -> None:
    """Drop every ``zipimport.zipimporter`` from ``sys.path_importer_cache``.

    The ranking fold's executor functions (the sketch scan's partition
    function, the sketch merge tree's functions, the scoring group
    function) call this last.  A reused PySpark Python worker calls
    ``importlib.invalidate_caches()`` before every task
    (``pyspark/worker_util.py:144``, ``setup_spark_files``), and on
    CPython 3.11 each cached zip finder's ``invalidate_caches`` re-reads
    its archive's whole directory (``zipimport.py:329-336``).  A worker
    holds one such finder per imported ``pyspark.zip`` subpackage plus
    one for the spark-core jar: ~26.7k directory entries and 0.25-0.33 s
    of CPU per Python task, paid before any task code runs.  Evicting
    the finders at the end of a task leaves the next task's
    invalidation nothing to re-read; an import that needs an evicted
    finder gets a new one from ``sys.path_hooks``, built from the
    directory that ``zipimport`` already holds in memory.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
