"""Per-process setup for Spark's Python workers (layer C).

Before every task, and before every UDTF ``analyze``, pyspark's worker
calls ``importlib.invalidate_caches()`` (``worker_util.
setup_spark_files``).  Up to CPython 3.12 that makes every
``zipimporter`` on ``sys.path_importer_cache`` re-read its whole
archive directory: in a worker, a dozen importers over ``pyspark.zip``
plus the py4j zip and the spark-core jar, 0.2–0.3 s of CPU per task.
The Python side is this engine's only per-task code, so without
this every jq task pays it.

:func:`install` replaces ``zipimporter.invalidate_caches`` in the
worker with a check: an archive whose ``(st_size, st_mtime_ns,
st_ino)`` is the same as at that importer's last read is not read
again; any other archive is re-read exactly as the stdlib does.  It
runs when the package is imported, and acts only inside a Spark
Python worker (``SparkFiles._is_running_on_worker``, which pyspark
sets before it unpickles a UDF) on Python < 3.13, where
``zipimporter`` invalidation became lazy.  The driver process is
never changed.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # stat before the read: a write during the read leaves a stale
    # stamp, so the next call reads again
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_jq_read_stamp", None):
        return
    _STDLIB_INVALIDATE(self)
    self._jq_read_stamp = stamp


def install() -> None:
    """Install :func:`invalidate_caches` in a Spark Python worker on
    Python < 3.13; anywhere else, do nothing."""
    if sys.version_info >= (3, 13):
        return
    # a worker imported SparkFiles before unpickling the UDF that
    # imports this package; elsewhere, do not import pyspark for it
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
