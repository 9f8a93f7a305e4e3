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

The patch is installed by ``import paraslice_spark``, so a worker gets it
only when a task's code imports the package.  A module-level function is
pickled by reference and imports its module on unpickling; a closure is
pickled by value and imports nothing of ours.  :func:`by_ref` gives every
Python kernel that import: new ``pandas_udf`` / ``udf`` / ``mapInPandas``
/ ``applyInPandas`` / ``applyInPandasWithState`` kernels go through it
(``tests/test_pyworker.py`` walks the package source for that rule).

A bare ``functools.partial`` would change how PySpark reads the kernel:
``typing.get_type_hints`` raises ``TypeError`` on a partial (a hinted
pandas UDAF loses its grouped-agg eval type), and
``inspect.getfullargspec`` reports no positional arguments, which the
worker uses to choose between ``f(pdf)`` and ``f(key, pdf)`` for a grouped
map.  :func:`by_ref` copies the wrapped function's attributes
(``__annotations__``, ``__wrapped__``, whose ``__globals__`` resolve string
hints) and its ``__signature__`` onto the partial; both survive pickling.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport
from collections.abc import Callable


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


def _call(fn, *args, **kwargs):
    return fn(*args, **kwargs)


def by_ref(fn: Callable) -> Callable:
    """``fn`` behind a module-level trampoline: ``fn`` still travels by
    value, but unpickling :func:`_call` imports this package in the worker,
    which runs :func:`install` before the worker's next task set-up.  The
    result reads as ``fn`` to PySpark's eval-type inference (signature,
    type hints, name)."""
    wrapper = functools.update_wrapper(functools.partial(_call, fn), fn)
    wrapper.__signature__ = inspect.signature(fn)
    return wrapper
