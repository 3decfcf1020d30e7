"""Executor-side import bootstrap for pandas-UDF closures.

On a real cluster the package ships with ``spark-submit --py-files``
(north_rule) and these helpers are no-ops. In local / shared-FS
deployments the Python workers inherit neither the driver's
``sys.path`` nor its cwd, so every closure that re-imports the
package captures the package location as a plain string and restores
importability first.

A reused Python worker also pays a fixed import cost on every task:
PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of each task, and on
CPython 3.11 every ``zipimporter`` finder in ``sys.path_importer_cache``
then re-reads its archive's whole central directory. A warm worker
holds one such finder per imported sub-package of ``pyspark.zip``, plus
the py4j zip and the Spark jar on its path: 16 directory reads, about
0.29 CPU-s per task on a shared 4-vCPU host (0.046 s without them),
where validating a few documents takes milliseconds.
:func:`drop_zip_finders` removes the finders once a task's imports are
done.
"""

from __future__ import annotations

import os
import sys
import zipimport

PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def drop_zip_finders() -> None:
    """Drop the ``zipimporter`` finders from ``sys.path_importer_cache``,
    so the next task's ``importlib.invalidate_caches()`` has no zip
    directory to re-read.

    Imports keep working: Python recreates a dropped finder on demand,
    from the directory ``zipimport`` already holds in memory. The one
    behaviour given up is that a zip rewritten in place during the
    session is no longer re-read."""
    cache = sys.path_importer_cache
    for path in [p for p, finder in cache.items()
                 if isinstance(finder, zipimport.zipimporter)]:
        del cache[path]
