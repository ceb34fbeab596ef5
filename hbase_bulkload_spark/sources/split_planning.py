"""Byte-range split scan shared by the two sync-anchored container
formats (Avro OCF, RCFile): the one read path for each.

Each format supplies only its header reader (sync marker, data offset,
codec, and its own schema facts) and its range decoder; this module
owns the plan loop between them: one tiny header read per file →
adaptive split size → byte ranges → ``parallelize(plan, len(plan))``
→ one Arrow-batched ``mapInPandas`` decode stage. Task count tracks
data volume, not file count, and there is no Exchange node (numSlices
at parallelize time, not a repartition).

This operator form is kept over a Python DataSource form
(``spark.read.format(...)``) on measured cost. Reading 10k rows from
one deflate file (4-core VM, 8 paired runs, operator faster in all 8):
RCFile 0.49 s median against 0.91 s, Avro 0.67 s against 1.07 s. About
0.2-0.26 s of the gap is the DataSource's planner-side ``schema()``
call, which starts a Python worker to read a file header before the
scan plan exists.

Split sizing follows Spark's own file-source planner,
``min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores))``
(`FilePartition.maxSplitBytes`), so small datasets still fan out across
the cluster. The fixed 128 MB split it replaced had the small-data half
of that policy missing: a 28 MB, 8-file table planned 8 single-split
tasks on 32 cores, capping a CPU-bound Python decode at ¼ of the
machine.

``open_cost`` is deliberately smaller than Spark's 4 MB default: these
codecs decode in Python at tens of MB/s/core (vs GB/s for the JVM
parquet reader), so a 1 MB split still carries far more decode work
than its scheduling overhead.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

DEFAULT_MAX_SPLIT = 128 << 20  # HDFS-block-ish upper bound
DEFAULT_OPEN_COST = 1 << 20  # Python decode ≫ task overhead at 1 MB


def adaptive_split_size(
    total_bytes: int,
    parallelism: int,
    max_split: int = DEFAULT_MAX_SPLIT,
    open_cost: int = DEFAULT_OPEN_COST,
) -> int:
    """Spark's maxSplitBytes formula: fill ``parallelism`` tasks when
    the data is small, never exceed ``max_split`` when it is large,
    and never go below ``open_cost`` per split."""
    bytes_per_core = total_bytes // max(parallelism, 1) + 1
    return int(min(max_split, max(open_cost, bytes_per_core)))


def list_files(path: str, ext: str) -> list[str]:
    """The ``*<ext>`` files directly under ``path``, sorted; raises
    FileNotFoundError when there are none."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, f"*{ext}")))
    if not files:
        raise FileNotFoundError(f"no {ext} files under {path}")
    return files


def scan_byte_splits(
    spark,
    headers: list[tuple[str, bytes, int, int, str | None]],
    decode: Callable[[str, int, int, int, bytes, str | None], Iterable[tuple]],
    names: list[str],
    out_schema: str,
    split_size: int | None = None,
):
    """Plan and run a byte-range split scan. ``headers`` holds one
    ``(path, sync, data_start, file_size, codec)`` per file; each file's
    data bytes are cut into ``split_size`` ranges (``None`` = adaptive,
    from total data bytes and the session's parallelism), one task
    each. A task calls ``decode(path, start, end, data_start, sync,
    codec)``, which yields the row tuples whose sync anchor starts in
    ``[start, end)``, and emits them as columns ``names`` of
    ``out_schema``."""
    import pandas as pd

    if split_size is None:
        split_size = adaptive_split_size(
            sum(fsize - data_start for _, _, data_start, fsize, _ in headers),
            spark.sparkContext.defaultParallelism,
        )
    plan = [
        (p, b, min(b + split_size, fsize), data_start, sync.hex(), codec or "")
        for p, sync, data_start, fsize, codec in headers
        for b in range(data_start, fsize, split_size)
    ]
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(plan, len(plan)),
        "path string, start long, end long, data_start long, sync string, codec string",
    )

    def run(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                rows = list(
                    decode(
                        r.path, r.start, r.end, r.data_start,
                        bytes.fromhex(r.sync), r.codec or None,
                    )
                )
                yield pd.DataFrame(rows, columns=names, dtype=object)

    return sdf.mapInPandas(run, out_schema)
