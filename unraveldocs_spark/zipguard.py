"""Stat-guarded ``zipimporter.invalidate_caches`` for Python workers.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 each
``zipimporter`` then re-reads its archive's whole central directory.  A
worker that has run an extraction stage holds 16 of them: 12 package paths
inside ``pyspark.zip``, 2 for py4j and 2 for the ``spark-core`` jar the JVM
puts on ``PYTHONPATH`` (5,359 entries); ``--py-files`` adds
``unraveldocs_spark.zip``.  That re-read cost about 0.2 s per task on a
4-core VM, whatever the task did.

The guarded method re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since this importer last read it, so a
rewritten archive is still picked up on the next task.
"""

from __future__ import annotations

import os
import sys
import zipimport

_unguarded = zipimport.zipimporter.invalidate_caches


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded_invalidate_caches(self) -> None:
    # stat BEFORE reading: a rewrite racing the read leaves the old
    # signature behind, so the next call reads again
    sig = _signature(self.archive)
    if sig is not None and sig == getattr(self, "_read_signature", None):
        return
    _unguarded(self)
    self._read_signature = sig


def install_in_task() -> None:
    """Install the guard when the package is imported inside a running
    Spark task (cloudpickle imports it as it unpickles a stage function,
    after the task's ``TaskContext`` is set).  The driver is unchanged."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
