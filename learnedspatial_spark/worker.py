"""Python daemon for local-mode sessions (``spark.python.daemon.module``).

``pyspark.daemon`` forks worker processes and, by default, reuses each for
many tasks.  Two costs that a reused worker pays on every task are paid
here only when they can change something:

* ``pyspark.worker_util.setup_spark_files`` ends each task with
  ``importlib.invalidate_caches()``, which under CPython 3.11 re-reads the
  directory of every cached zipimporter on ``sys.path``.  The worker's
  ``importlib`` becomes a proxy that makes the call only when ``sys.path``
  differs from the last call.  A ``.py`` file shipped with ``addPyFile``
  lands in the SparkFiles directory, already on ``sys.path``; the path
  finder's directory-mtime check finds it without an invalidation.
* the daemon runs ``gc.collect()`` after each task, and every collection
  walks all tracked objects, the imported pandas/pyarrow/engine heap
  included.  After a task that imported modules (each worker's first), the
  worker collects once and freezes what survives (``gc.freeze``), so later
  collections walk only later tasks' objects.

Nothing beyond what ``pyspark.daemon`` itself imports is loaded before the
daemon forks (pyarrow starts a thread at import).  ``session.get_spark``
sets this module for local masters only.
"""

from __future__ import annotations

import gc
import importlib
import sys

import pyspark.daemon as daemon
import pyspark.worker_util as worker_util


class CachedImportlib:
    """``importlib`` whose ``invalidate_caches()`` is a no-op while
    ``sys.path`` equals what it was at the last real call."""

    def __init__(self) -> None:
        self._path: list[str] | None = None

    def invalidate_caches(self) -> None:
        if sys.path != self._path:
            self._path = list(sys.path)
            importlib.invalidate_caches()

    def __getattr__(self, name: str):
        return getattr(importlib, name)


def freezing(worker_main):
    """``worker_main`` followed, when the task imported modules, by one
    full collection and ``gc.freeze()``."""

    def run(infile, outfile):
        n_modules = len(sys.modules)
        try:
            return worker_main(infile, outfile)
        finally:
            if len(sys.modules) != n_modules:
                gc.collect()
                gc.freeze()

    return run


def main() -> None:
    # daemon.worker() reads both names as module globals on every task
    worker_util.importlib = CachedImportlib()
    daemon.worker_main = freezing(daemon.worker_main)
    daemon.manager()


if __name__ == "__main__":
    main()
