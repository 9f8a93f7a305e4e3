"""Python-worker task setup: re-read a zip archive only when it changed.

PySpark's worker ends the set-up of every task with
``importlib.invalidate_caches()``.  On CPython < 3.13 that makes every
``zipimport.zipimporter`` on the worker's path re-read its archive's whole
directory (``pyspark.zip``, py4j, the Spark jar, the shipped package zip),
0.16-0.43 s of worker CPU per task measured on PySpark 4.1.2 / CPython
3.11.7 (4-core box).  CPython 3.13 only drops the cache.  :func:`install`
keeps the re-read for an archive whose ``os.stat`` stamp changed since
that importer last read it (rewritten in place or replaced) and skips it
otherwise.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process when it is a
    PySpark worker on CPython < 3.13.  Idempotent; a no-op on the driver."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "reads_changed_only"):
        return
    from pyspark.core.files import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return

    def invalidate_caches(self):
        try:
            # taken before the read: a change during the read shows next time
            stamp = _stamp(self.archive)
        except (OSError, ValueError):
            self.__dict__.pop("_read_stamp", None)
            return original(self)
        if self.__dict__.get("_read_stamp") != stamp:
            original(self)
            self._read_stamp = stamp

    invalidate_caches.reads_changed_only = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
