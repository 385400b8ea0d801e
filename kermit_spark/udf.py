"""Session-safe wrapper for module-level pandas UDFs.

A ``pyspark.sql.functions.pandas_udf`` object caches its JVM-side
UserDefinedPythonFunction the first time it is used
(``UserDefinedFunction._judf_placeholder``). The cached PythonFunction
embeds the *creating* SparkContext's ``PythonAccumulatorV2`` — the
JVM-to-driver socket that ships Python-worker accumulator/metrics blobs
back after every task. When that context is stopped and a NEW one is
started in the same Python process (bench legs, notebooks, test suites),
a module-level UDF silently reuses the stale JVM function: every task
completion then tries to write accumulator updates to the dead server's
socket, and the DAGScheduler logs an endless ``EOF reached before Python
server acknowledged`` / ``Broken pipe`` storm — hundreds of stack traces
per job, observed live in ``bench.py`` runs (the bench stops the AQE-off
crawl session and opens an AQE-on session for the analytical legs).

``SessionSafeUdf`` rebuilds the underlying ``pandas_udf`` whenever the
active SparkContext is not the one the cache was built against (object
identity — robust to id() reuse after GC), which is exactly the
invalidation the upstream cache is missing. Driver-side cost is one
identity check per expression construction, nothing per task/row.

The second defect is worker-side and costs every Python task a fixed
~0.25 CPU-s. PySpark's ``setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11/3.12 each cached ``zipimporter`` then eagerly re-reads its
archive's central directory. Spark puts ``pyspark.zip`` (1,328 entries),
the py4j zip and the 15 MB ``spark-core`` jar (5,359 entries) on the
worker ``PYTHONPATH``, cached under 16 importers: 16 directory reads per
task. A trivial pandas UDF over 2,500 short strings took 0.67-0.73 s on
8 partitions and 2.2-2.7 s on 32 (0.09-0.13 s without Python), and a
profile of the worker put 9.4 of 11.4 s in those reads.
``_install_zip_directory_stamps`` backports the CPython 3.13 behaviour,
where invalidation no longer re-reads eagerly: it re-reads an archive
only when its ``(st_mtime_ns, st_size)`` changed since its directory was
last read, so a re-added ``addPyFile`` zip is still picked up. Unpickling any engine UDF imports this package, so a reused worker
carries the fix from its second task on. CPython >= 3.13 is left as is.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Any, Callable

from pyspark.sql.functions import pandas_udf


def _install_zip_directory_stamps() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed (CPython < 3.13 only)."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or reread.__module__ == __name__:
        return
    # archive -> (st_mtime_ns, st_size) when its cached directory was read;
    # the stat runs BEFORE the read, so a change racing the read only
    # causes one more re-read later
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            stamp = None
        else:
            stamp = (st.st_mtime_ns, st.st_size)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_directory_stamps()


class SessionSafeUdf:
    """A pandas UDF whose JVM-side cache is invalidated on context change."""

    def __init__(self, fn: Callable[..., Any], return_type: Any) -> None:
        self._fn = fn
        self._return_type = return_type
        self._ctx: Any = None
        self._udf: Any = None
        self.__doc__ = getattr(fn, "__doc__", None)
        self.__name__ = getattr(fn, "__name__", "session_safe_udf")

    @property
    def func(self) -> Callable[..., Any]:
        """The wrapped batch function (parity with UserDefinedFunction.func)."""
        return self._fn

    def __call__(self, *cols: Any) -> Any:
        try:
            from pyspark import SparkContext

            ctx = SparkContext._active_spark_context
        except Exception:  # Connect mode or no active classic context
            ctx = None
        if self._udf is None or self._ctx is not ctx:
            self._udf = pandas_udf(self._fn, self._return_type)
            self._ctx = ctx
        return self._udf(*cols)


def session_safe_pandas_udf(fn: Callable[..., Any], return_type: Any) -> SessionSafeUdf:
    """Drop-in replacement for module-level ``pandas_udf(fn, type)``."""
    return SessionSafeUdf(fn, return_type)
