"""Stop PySpark Python workers re-reading unchanged zip archives per task.

Every task a PySpark Python worker runs starts in ``setup_spark_files``
(``pyspark/worker_util.py``), which ends with
``importlib.invalidate_caches()``. On CPython < 3.13 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each one re-reads its archive's whole
central directory. A worker holds one importer per package directory it
has imported from an archive, so after a few tasks it has about 16:
twelve over ``pyspark.zip`` (1,328 entries), two over the
``spark-core`` jar (5,359 entries) and two over py4j. Re-reading them
costs ~0.22 CPU-s per task, whatever the task does.

:func:`install` replaces the method with one that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since that
importer last read it. CPython 3.13 keeps the same contract by dropping
the cache and re-reading lazily, so nothing is installed there. The
package imports this module, so the patch lands in a worker the first
time a task unpickles one of the engine's functions and holds for every
later task of that (reused) worker. On the driver it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_UNREAD = object()
_original = zipimport.zipimporter.invalidate_caches


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    sig = _signature(self.archive)
    if sig is not None and self.__dict__.get("_read_signature", _UNREAD) == sig:
        return
    _original(self)
    self._read_signature = sig


def _on_worker() -> bool:
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # pragma: no cover - pyspark-connect-only installs
        return False
    return bool(SparkFiles._is_running_on_worker)


def install() -> bool:
    """Install the patch inside a PySpark worker on CPython < 3.13;
    returns whether it is in place."""
    if sys.version_info >= (3, 13) or not _on_worker():
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


install()
