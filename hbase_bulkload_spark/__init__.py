"""hbase_bulkload_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference `mganta/hbase-bulkload`
(a CDH MapReduce HBase bulk-load tool), re-expressed Spark-first.

The reference's dataflow (see SURVEY.md): scan (text/CSV/RCFile/Avro) →
arity-validate → composite MD5 row key → wide→long KV unpivot →
total-order range partition + sort → Snappy sorted-KV sink, plus the
table semantics its DDL encodes (3-version retention, 90-day TTL,
10-way hash-range partitioning).

This package implements that inventory — and a full relational /
streaming / LLM-data-pipeline surface on top — as declarative DataFrame
plans that Catalyst/Tungsten optimize (predicate pushdown, column
pruning, whole-stage codegen, AQE). No RDDs; Python UDFs only where
built-ins genuinely cannot express the semantics (Arrow-batched).
"""

__version__ = "0.1.0"

import warnings

from hbase_bulkload_spark import daemon_preload

# every Python process that loads engine code gets the zip re-read
# guard, including the DataSource planner workers Spark forks from its
# stock daemon (they ignore spark.python.daemon.module)
daemon_preload.install_zip_invalidation_guard()
# `python -m hbase_bulkload_spark.daemon_preload` (the engine's worker
# daemon) finds the module already imported by the line above and runpy
# warns about the second, ``__main__`` copy. That copy only runs the
# daemon and uses none of its own definitions, so the warning is noise
# on every session's stderr.
warnings.filterwarnings(
    "ignore",
    message=r"'hbase_bulkload_spark\.daemon_preload' found in sys\.modules",
    category=RuntimeWarning,
)

from hbase_bulkload_spark.session import get_spark  # noqa: E402, F401
