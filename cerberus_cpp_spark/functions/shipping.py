"""Executor-side import bootstrap for pandas-UDF closures.

On a real cluster the package ships with ``spark-submit --py-files``
(north_rule) and the ``sys.path`` step is a no-op. In local /
shared-FS deployments the Python workers inherit neither the driver's
``sys.path`` nor its cwd, so every closure that re-imports the
package captures the package location as a plain string and restores
importability first.

A reused Python worker also pays two fixed costs on every task, which
:func:`task_prelude` removes once a task's imports are done:

- PySpark's ``worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of each task, and on
  CPython 3.11 every ``zipimporter`` finder in
  ``sys.path_importer_cache`` then re-reads its archive's whole
  central directory. A warm worker holds one such finder per imported
  sub-package of ``pyspark.zip``, plus the py4j zip and the Spark jar
  on its path: 16 directory reads, about 0.29 CPU-s per task on a
  shared 4-vCPU host (0.046 s without them), where validating a few
  documents takes milliseconds.
- PySpark's daemon calls ``gc.collect()`` after every task of a reused
  worker (``pyspark/daemon.py``). That full collection walks every
  object the worker holds, most of them the modules it has imported
  (pyspark, pandas, pyarrow, numpy): about 40 ms of Python CPU per
  task on the same host. ``gc.freeze()`` moves the objects alive at
  the prelude into the permanent generation, which no collection
  walks, so the daemon's collection walks only what the task built
  since. Measured from ``/proc`` over 4-document ``validate_json``
  operations of four tasks each, Python-worker CPU per operation is
  0.18 s with the zip finders dropped alone and 0.015–0.017 s with the
  heap frozen too.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

#: ``len(sys.modules)`` at this process's last ``gc.freeze()``. The
#: freeze is process-wide, so its bookkeeping is too
_frozen_at = 0


def task_prelude() -> None:
    """Run once a worker task's imports are done: drop the
    ``zipimporter`` finders, and freeze the heap if this process has
    imported a module since its last freeze.

    Imports keep working: Python recreates a dropped finder on demand,
    from the directory ``zipimport`` already holds in memory. The one
    behaviour given up is that a zip rewritten in place during the
    session is no longer re-read.

    The freeze happens once per new module set, not on every task:
    the objects a task builds before its prelude (the unpickled
    closure, the stream readers) are then frozen at most once per
    module set, rather than kept for good once per task. Frozen
    objects are never collected, so a cycle that dies after its freeze
    stays in memory; one made after the freeze is collected as usual."""
    global _frozen_at
    cache = sys.path_importer_cache
    for path in [p for p, finder in cache.items()
                 if isinstance(finder, zipimport.zipimporter)]:
        del cache[path]
    if len(sys.modules) > _frozen_at:
        _frozen_at = len(sys.modules)
        gc.freeze()
