"""``pyspark.daemon`` wrapper that takes three per-worker costs off
every Python task: imports, zip directory re-reads and the per-task gc
walk.

Every Python task of the engine (RCFile decode, the HFile writer, the
boundary-split tasks of ``do_bulk_load``, the ``format("hfile")``
scan's ``read()``, ``multi_get``) runs in a worker forked from this
daemon. The Python DataSource planner calls do not:
``PythonPlannerRunner`` asks for its worker through the 4-argument
``SparkEnv.createPythonWorker`` overload, which passes
``PythonWorkerFactory.defaultDaemonModule`` and so ignores
``spark.python.daemon.module``. Every ``format("hfile")`` query makes
two such calls (``schema()``, then ``pushFilters()`` and
``partitions()``), in reused workers of Spark's stock
``pyspark.daemon``. Those workers get the zip guard below from the
package instead: ``hbase_bulkload_spark/__init__.py`` installs it, and
unpickling an engine DataSource imports the package. Measured on a
4-core VM (CPython 3.11, Spark 4.1.2), the stock daemon made a reused
worker spend more on fixed cost than most tasks spend on rows:

- **Imports.** The stock daemon imports only pyspark; numpy, pandas and
  pyarrow are first imported inside each forked worker when a Pandas
  UDF deserializes — ~0.5-1 s per fresh worker. They are imported here,
  once, so every fork inherits them via copy-on-write pages.
- **Zip directory re-reads.** ``pyspark.worker_util.setup_spark_files``
  calls ``importlib.invalidate_caches()`` on every task. On CPython
  3.10/3.11 ``zipimporter.invalidate_caches`` eagerly re-parses the
  archive's whole central directory, and a worker holds 16
  zipimporters: 12 over ``pyspark.zip`` (one per imported subpackage;
  1 328 entries, 5-10 ms a read), 2 over the spark-core jar Spark puts
  on the worker ``PYTHONPATH`` (5 359 entries, 23-43 ms a read) and 2
  over py4j's zip. That was 110-210 ms of single-threaded Python
  before a task read its first row.
  :func:`install_zip_invalidation_guard` makes the re-read happen only
  when the archive's ``(st_ino, st_size, st_mtime_ns)`` changed since
  that importer last read it. CPython 3.12 made the re-read lazy
  upstream (gh-103200), so the guard is installed only below 3.12.
- **Per-task gc walk.** ``pyspark.daemon`` runs ``gc.collect()`` after
  every task of a reused worker; it walked the whole pre-imported
  numpy/pandas/pyarrow heap, 20-45 ms a task. ``gc.freeze()`` after the
  warm imports moves that heap (~73k objects) to the permanent
  generation, so the per-task collection skips it (0.1-1.4 ms) and,
  the usual pre-fork idiom, no longer writes to those pages, so they
  stay shared.

Together: a 1-row ``spark.range(1).mapInArrow(...)`` job went 0.35 s →
0.16 s (median of 12), ``multi_get`` (four 64-key batches) 0.62 s →
0.23 s, and the bench's ``rcfile_load_read`` doubled its cells per
second.

Wired in by ``session.get_spark`` via ``spark.python.daemon.module``
(the module must be importable by the worker-side Python — get_spark
exports the repo root on PYTHONPATH before the JVM launches). Module
availability is probed driver-side first; if the stack is absent the
stock daemon is kept, so this never turns an optional dependency into
a hard one.
"""

import gc
import os
import sys
import zipimport

_stock_invalidate_caches = getattr(zipimport.zipimporter, "invalidate_caches", None)


def stat_guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its ``(st_ino, st_size, st_mtime_ns)`` changed
    since THIS importer last read it. The signature is kept per
    importer, not per archive: several importers share one archive, and
    each must re-read it once after a change. The stat is taken before
    the read, so a change racing the read is seen again on the next
    call."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate_caches(self)
        return
    signature = (st.st_ino, st.st_size, st.st_mtime_ns)
    if getattr(self, "_stat_signature", None) == signature:
        return
    _stock_invalidate_caches(self)
    self._stat_signature = signature


def install_zip_invalidation_guard() -> bool:
    """Replace ``zipimporter.invalidate_caches`` with
    :func:`stat_guarded_invalidate_caches` where the stock method re-reads
    eagerly (CPython < 3.12). Returns whether it was installed."""
    if sys.version_info >= (3, 12) or _stock_invalidate_caches is None:
        return False
    zipimport.zipimporter.invalidate_caches = stat_guarded_invalidate_caches
    return True


if __name__ == "__main__":
    # ``python -m`` imports the package first, and the package installs
    # the guard (its module's copy, not this ``__main__`` one's). Then
    # the fork-inherited warm imports, kept here so that importing the
    # module stays cheap — order cheap-to-heavy so a partial failure
    # (unlikely: the driver probed these) leaves the most useful prefix
    # warm
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    from pyspark.daemon import manager

    # after the warm imports: each worker's per-task gc.collect() then
    # skips the inherited heap
    gc.freeze()
    manager()
