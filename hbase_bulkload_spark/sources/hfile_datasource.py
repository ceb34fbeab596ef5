"""`spark.read.format("hfile")` — the HFile v3 codec as a first-class
Spark Python DataSource (pyspark.sql.datasource, Spark 4.x), and the one
HFile read path: table read-back, range scans and the value-index seek
(`operators.hfile_load`) all go through it. The source is read-only;
HFiles are written by `operators.hfile_load.write_region_hfiles`.

It registers the codec inside Catalyst's source framework, so the read
IS a scan node:

- `partitions()` returns one `InputPartition` per ~split_bytes of
  block ranges — the planner creates exactly that many tasks (the
  DSv2 analog of parquet's split planning).
- `pushFilters()` receives the query's predicates; rowkey range
  predicates (`>=`, `>`, `<`, `<=`, `=`, and `startswith`) tighten the
  driver-side plan so whole files and blocks are pruned from metadata
  before any data byte is read. Every filter is reported back as
  unsupported, so Spark re-applies them post-scan — pruning is a
  performance contract here, correctness stays Spark's (the safe
  default for a range prune that inspects only block fences).
- `read()` yields Arrow RecordBatches (one per decoded block chunk),
  the vectorized path through the Python worker. A plan pruned to no
  split reads nothing and yields the declared schema, empty.

It replaced a hand-wired scan (parallelize a plan + mapInArrow) on
measured cost: a full scan of a 10-region table of 89 900 cells took a
median 2.53 s here against 3.57 s for the hand-wired scan (4-core VM,
8 paired runs, faster in all 8).

The planner calls (`schema()` on `load()`, then `pushFilters()` and
`partitions()` when a query is planned) run in reused workers of
Spark's stock `pyspark.daemon`, not the engine's
(`daemon_preload`): Spark 4.1 starts them through a
`createPythonWorker` overload that ignores
`spark.python.daemon.module`. Unpickling this class imports the
package, which installs the zip re-read guard in those workers. Without
it each call re-read pyspark.zip and the spark-core jar: on a 1-row
source `load()` took 0.16-0.19 s and a filtered `count()` 0.61-0.66 s,
with it 0.016-0.020 s and 0.22 s (4-core VM, median of 15).

Call `load()` once per query. Spark 4.1 caches the planned splits on
the relation a `load()` returns: a query with filters re-runs
`pushFilters` and replaces the cache, but a query without filters
reuses it. So after `df.filter(<rowkey range>).count()`, a plain
`df.count()` counts only that range. Every caller in this package
loads afresh per query. `tests/test_hfile.py::
test_reused_frame_reuses_pushed_range` pins this, so a Spark upgrade
that changes it fails there.

Registration is per-session and explicit:

    from hbase_bulkload_spark.sources.hfile_datasource import register
    register(spark)
    df = spark.read.format("hfile").load(table_dir)

The HFile layout itself lives in `sources.hfile`; the planning helper
is `operators.hfile_load.plan_block_splits`.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

_PRUNABLE = ("family", "qualifier", "ts", "value")


def _hfile_schema(binary: bool, keep: tuple[str, ...]) -> str:
    cell_t = "binary" if binary else "string"
    types = {"family": cell_t, "qualifier": cell_t, "ts": "long", "value": cell_t}
    return ", ".join(
        [f"region string, rowkey {cell_t}"] + [f"{c} {types[c]}" for c in keep]
    )


def _opt_binary(options) -> bool:
    """`.option("binary", "true")` keeps raw cell bytes — required for
    tables written in the reference-fidelity raw-key/positional modes,
    whose keys and qualifiers are not UTF-8 (same knob as
    `operators.hfile_load.multi_get(binary=True)`)."""
    return str(options.get("binary", "false")).lower() == "true"


def _opt_columns(options) -> tuple[str, ...]:
    """`.option("columns", "value,ts")` — decode-side column pruning,
    the HFile analog of a parquet ReadSchema: a pruned column's
    per-cell slice + decode cost is never paid. region/rowkey are
    always kept."""
    if "columns" not in options:
        return _PRUNABLE
    want = {c.strip() for c in options["columns"].split(",")}
    unknown = want - set(_PRUNABLE) - {"region", "rowkey"}
    if unknown:
        raise ValueError(
            f"unknown columns {sorted(unknown)}; prunable: {_PRUNABLE}"
        )
    return tuple(c for c in _PRUNABLE if c in want)


class HFileScanPartition(InputPartition):
    def __init__(self, path: str, region: str, codec: str, blocks: list):
        self.path = path
        self.region = region
        self.codec = codec
        self.blocks = blocks


class HFileReader(DataSourceReader):
    def __init__(self, options):
        self.table_dir = options.get("path")
        if not self.table_dir:
            raise ValueError("format('hfile') requires .load(<table_dir>)")
        # split_bytes unset → scale-adaptive sizing (plan_block_splits
        # derives it from total data-block bytes; cores from
        # $SPARK_GRAFT_CPUS / os.cpu_count(), the DataSource API has no
        # SparkContext handle on the driver planning path).
        # CLUSTER DEPLOYMENT NOTE (r11 verdict): that cores fallback
        # sees only the DRIVER's cores, so on a small driver fronting a
        # big cluster the adaptive solve over-sizes splits toward the
        # 64 MiB ceiling — bounded and correct (~1.6 M tasks at 100 TB)
        # but coarser than ideal; set .option("split_bytes", ...) from
        # the cluster's (total cores × target tasks/core) when the
        # driver's core count is not representative.
        sb = options.get("split_bytes")
        self.split_bytes = int(sb) if sb is not None else None
        self.verify = str(options.get("verify_checksums", "true")).lower() == "true"
        self.binary = _opt_binary(options)
        self.keep = _opt_columns(options)
        self.start_row: bytes | None = None
        self.stop_row: bytes | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Harvest rowkey bounds for block-fence pruning; yield ALL
        filters back (Spark re-applies them), so pruning can use a
        superset range (e.g. `>` pruned as `>=`) without owning
        exactness."""

        def tighten_start(b: bytes) -> None:
            if self.start_row is None or b > self.start_row:
                self.start_row = b

        def tighten_stop(b: bytes) -> None:
            if self.stop_row is None or b < self.stop_row:
                self.stop_row = b

        for f in filters:
            if getattr(f, "attribute", None) == ("rowkey",):
                v = getattr(f, "value", None)
                if isinstance(v, str):
                    b = v.encode()
                    if isinstance(f, (GreaterThanOrEqual, GreaterThan)):
                        tighten_start(b)
                    elif isinstance(f, LessThan):
                        tighten_stop(b)
                    elif isinstance(f, LessThanOrEqual):
                        # [.., v] as a block prune: stop just past v
                        tighten_stop(b + b"\x00")
                    elif isinstance(f, EqualTo):
                        tighten_start(b)
                        tighten_stop(b + b"\x00")
                    elif isinstance(f, StringStartsWith):
                        tighten_start(b)
                        # stop = successor of the prefix: increment the
                        # last non-0xFF byte (dropping any 0xFF tail).
                        # An empty or all-0xFF prefix has NO successor —
                        # skip stop tightening entirely rather than use
                        # prefix+b'\xff', which is NOT a superset of the
                        # prefix range (rows at prefix+b'\xff...' would
                        # be physically pruned and unrecoverable by
                        # Spark's re-applied filter)
                        trimmed = b.rstrip(b"\xff")
                        if trimmed:
                            tighten_stop(trimmed[:-1] + bytes([trimmed[-1] + 1]))
            yield f  # never claimed: Spark keeps correctness

    def partitions(self) -> Sequence[InputPartition]:
        from hbase_bulkload_spark.operators.hfile_load import plan_block_splits

        return [
            HFileScanPartition(path, region, codec, blocks)
            for path, region, codec, blocks in plan_block_splits(
                self.table_dir,
                split_bytes=self.split_bytes,
                start_row=self.start_row,
                stop_row=self.stop_row,
            )
        ]

    def read(self, partition: HFileScanPartition | None):
        if partition is None:
            # partitions() planned nothing (every file pruned) and Spark
            # calls read(None) once: the scan is empty
            return
        import pyarrow as pa

        from hbase_bulkload_spark.sources import hfile as hf

        cell_pa = pa.binary() if self.binary else pa.string()
        pa_types = {
            "family": cell_pa,
            "qualifier": cell_pa,
            "ts": pa.int64(),
            "value": cell_pa,
        }
        arrow_schema = pa.schema(
            [("region", pa.string()), ("rowkey", cell_pa)]
            + [(c, pa_types[c]) for c in self.keep]
        )
        import numpy as np
        import pyarrow.compute as pc

        from hbase_bulkload_spark.operators.hfile_load import (
            _iter_block_chunks,
        )

        with open(partition.path, "rb") as f:
            # cells never straddle blocks (writer rolls at row
            # boundaries), so a CHUNK's payloads concatenate into one
            # buffer and decode in a single vectorized pass. Chunked at
            # DECODE_CHUNK_BYTES (~2 MiB ≈ ~50k cells — the numpy/Arrow
            # setup amortizes, decode scratch stays flat) while the
            # partition itself is split_bytes (scale-adaptive since
            # r11, up to 64 MiB) of blocks.
            for chunk in _iter_block_chunks(partition.blocks):
                plain = b"".join(
                    hf._read_block(
                        f, off, partition.codec or None, hf.DATA_MAGIC,
                        self.verify,
                    )
                    for off, _size in chunk
                )
                cols = hf.decode_cells_arrow(
                    plain,
                    binary=self.binary,
                    want_family="family" in self.keep,
                    want_qualifier="qualifier" in self.keep,
                    want_ts="ts" in self.keep,
                    want_value="value" in self.keep,
                )
                n = len(cols["rowkey"])
                # constant column via a C-level take, not a Python list
                # multiply
                region_arr = pc.take(
                    pa.array([partition.region], pa.string()),
                    pa.array(np.zeros(n, np.int32)),
                )
                yield pa.RecordBatch.from_arrays(
                    [region_arr, cols["rowkey"]] + [cols[c] for c in self.keep],
                    schema=arrow_schema,
                )


class HFileDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hfile"

    def schema(self) -> str:
        return _hfile_schema(_opt_binary(self.options), _opt_columns(self.options))

    def reader(self, schema) -> HFileReader:
        return HFileReader(self.options)


def register(spark) -> None:
    """Idempotent per-session registration of format('hfile') (also
    enables Python-source filter pushdown, off by default in 4.x)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HFileDataSource)
