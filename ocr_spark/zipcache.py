"""Re-read a zip archive on ``importlib.invalidate_caches()`` only when
it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  The workers
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, and every
imported pyspark subpackage leaves one ``zipimporter`` in
``sys.path_importer_cache`` (16 in an engine worker, over pyspark.zip,
py4j's zip and the spark-core jar).  On CPython < 3.13
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, so each Python task paid 0.17-0.28 s before its UDF ran
(4-core host, ``local[4]``).  CPython 3.13 only drops the cache there
and is left alone.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` stamp differs from the one this
zipimporter last read.  ``ocr_spark/__init__.py`` calls it, so a reused
worker pays the rescan on its first engine task only.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_always = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data if it changed since the last read."""
    stamp = _stamp(self.archive)  # taken before the read: a write racing
    # it leaves a stale stamp, so the next call reads again
    if stamp is None or stamp != self.__dict__.get("_ocr_spark_stamp"):
        _read_always(self)
        self._ocr_spark_stamp = stamp


def install() -> None:
    """Install the stamp check once per process (no-op on CPython 3.13+).

    The zipimporters already cached are stamped as read: in a worker,
    the running task's ``setup_spark_files`` has just re-read them."""
    if (sys.version_info >= (3, 13)
            or zipimport.zipimporter.invalidate_caches is _invalidate_if_changed):
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._ocr_spark_stamp = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
