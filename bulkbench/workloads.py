"""The benchmark workloads. Each drives the engine only through its
public calls, checks every operation's output against what the seeded
generator predicts, and has a traced pass that times each layer.

A workload is a closed loop with one client: the next operation starts
when the previous one returns.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from bisect import bisect_left, bisect_right
from dataclasses import dataclass

import gen

# HBase HexStringSplit over 10 regions: fences at i/10 of the 8-digit hex
# keyspace. Eight of them cut through one of the 16 buckets the writer
# emits, so the bulk load has to split 8 files; "7fffffff" lies above
# every key of bucket 7 that a seed makes in practice.
HEX_SPLIT10 = [b""] + [format(0xFFFFFFFF * i // 10, "08x").encode() for i in range(1, 10)]


@dataclass
class Op:
    kind: str
    seconds: float
    items: int


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def rate_of(ops: list[Op]) -> float:
    """Work per second of operation time over the whole window; 0 when
    no operation succeeded."""
    seconds = sum(o.seconds for o in ops)
    return sum(o.items for o in ops) / seconds if seconds else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def placed_files(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "region-*", "*", "*.hfile")))


def check_table(table_dir: str, boundaries: list[bytes], n_cells: int) -> tuple[int, int]:
    """Every placed file's key range lies inside its region's fences and
    the cells add up. Returns (files, bytes)."""
    from hbase_bulkload_spark.sources import hfile as hf

    files = placed_files(table_dir)
    check(bool(files), "no placed files")
    cells = 0
    for path in files:
        region = int(os.path.basename(os.path.dirname(os.path.dirname(path))).split("-")[1])
        first, last = hf.file_key_range(path)
        check(first >= boundaries[region], f"{path} starts before its region")
        if region + 1 < len(boundaries):
            check(last < boundaries[region + 1], f"{path} ends past its region")
        with open(path, "rb") as f:
            cells += hf.read_trailer(f).entry_count
    check(cells == n_cells, f"table holds {cells} cells, expected {n_cells}")
    return len(files), sum(os.path.getsize(p) for p in files)


class Workload:
    name = ""
    # untimed rounds before the window, so JIT, codegen and the Python
    # workers are warm when timing starts
    warmup_rounds = 1

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.dir = data_dir
        self.info: dict = {}

    def setup(self, spark) -> None:
        """Generate the inputs from the seed."""

    def round(self, spark, i: int) -> list[Op]:
        """The client's ``i``-th round of operations, each checked.
        Negative rounds are the untimed warm-up."""
        raise NotImplementedError

    def summary(self, ops: list[Op]) -> dict:
        """End-to-end metrics of the timed window: ``op_p50_s`` (median
        latency of the workload's point operation), ``work_per_s`` (its
        rate of work), plus the workload's own named figures."""
        raise NotImplementedError

    def trace(self, spark, tracer, untraced: dict) -> dict:
        """One traced pass: per-layer metrics from spans around the calls
        into each layer. ``untraced`` is this run's summary, against which
        the tracing overhead is reported."""
        raise NotImplementedError


# --------------------------------------------------------- load and read


class RcfileLoadRead(Workload):
    """Each round of the one client loads a deflate RCFile through
    ``bulkload_kv → region_align → bulkload_to_table`` into 10
    HexStringSplit regions, whose fences cut the writer's files so
    ``do_bulk_load`` splits and rewrites them, then reads the loaded
    table back: a full scan and a range scan through ``format("hfile")``
    and four ``multi_get`` batches, with seeded bounds and keys. Whole
    rounds keep the operation mix fixed in every run."""

    name = "rcfile_load_read"
    # the first round takes ~2.5x a steady one; the second is already steady
    warmup_rounds = 1
    rows = 10_000
    get_batch = 64
    gets_per_round = 4
    boundaries = HEX_SPLIT10

    def setup(self, spark) -> None:
        from hbase_bulkload_spark.sources import rcfile
        from hbase_bulkload_spark.sources.hfile_datasource import register

        recs = gen.records(self.seed, self.rows)
        self.input = os.path.join(self.dir, "input")
        os.makedirs(self.input)
        rcfile.write_rcfile(
            os.path.join(self.input, "part-00000.rc"), recs.rows, gen.N_COLS, codec="deflate"
        )
        self.table = os.path.join(self.dir, "table")
        self.input_bytes = dir_bytes(self.input)
        self.files = self.stored_bytes = 0  # set by each checked load
        register(spark)
        self.by_key = gen.table_rows(recs)
        self.n_cells = sum(gen.n_cells(r) for r in recs.rows)
        self.keys = sorted(self.by_key)
        self.cum_cells = [0]
        for k in self.keys:
            self.cum_cells.append(self.cum_cells[-1] + gen.n_cells(self.by_key[k]))
        self.value_bytes = sum(
            len(v.encode()) for r in self.by_key.values() for v in r if v is not None
        )
        self.ranges = gen.range_bounds(self.seed + 1, 64)
        self.batches = gen.get_batches(self.seed + 2, self.keys, 64, self.get_batch)
        self.info = {
            "rows": self.rows,
            "planted_null_last": recs.n_null_last,
            "cells": self.n_cells,
            "input_bytes": self.input_bytes,
            "regions": len(self.boundaries),
            "get_batch": self.get_batch,
            "get_absent_share": gen.ABSENT_SHARE,
            "range_share": 2.0 ** -gen.RANGE_SHARE_LOG2,
        }

    def _read(self, spark):
        from hbase_bulkload_spark import cli

        return cli.read_rcfile(spark, self.input, gen.N_COLS)

    def _aligned(self, spark):
        """Keys, unpivot and the region-aligned sort into the writer's 16
        hex-nibble buckets."""
        from hbase_bulkload_spark.operators.bulkload import bulkload_kv, region_align

        df = self._read(spark)
        kv = bulkload_kv(df, key_cols=df.columns[:gen.KEY_COLS], value_cols=df.columns)
        return region_align(kv, 16)

    def _load(self, spark) -> int:
        from hbase_bulkload_spark.operators.hfile_load import bulkload_to_table

        manifest = bulkload_to_table(self._aligned(spark), self.table, list(self.boundaries))
        cells = sum(m["entry_count"] for m in manifest)
        check(cells == self.n_cells, f"manifest holds {cells} cells")
        self.files, self.stored_bytes = check_table(
            self.table, self.boundaries, self.n_cells
        )
        return cells

    def _frame(self, spark):
        return spark.read.format("hfile").load(self.table)

    def _scan(self, spark) -> int:
        from pyspark.sql import functions as F

        n, vbytes = self._frame(spark).agg(
            F.count(F.lit(1)), F.sum(F.length("value"))
        ).first()
        check(n == self.n_cells, f"scan returned {n} cells")
        check(vbytes == self.value_bytes, "scan value bytes")
        return n

    def _range_frame(self, spark, lo: str, hi: str):
        from pyspark.sql import functions as F

        return self._frame(spark).filter((F.col("rowkey") >= lo) & (F.col("rowkey") < hi))

    def _check_range(self, lo: str, hi: str, n: int) -> int:
        want = (self.cum_cells[bisect_left(self.keys, hi)]
                - self.cum_cells[bisect_left(self.keys, lo)])
        check(n == want, f"range returned {n} cells, expected {want}")
        return n

    def _check_get(self, batch: list[str], rows: list[tuple]) -> int:
        present = [k for k in batch if k in self.by_key]
        check({r[0] for r in rows} == set(present), "get returned the wrong keys")
        want = sum(gen.n_cells(self.by_key[k]) for k in present)
        check(len(rows) == want, f"get returned {len(rows)} cells, expected {want}")
        for key, qual, value in rows:
            check(self.by_key[key][int(qual[1:])] == value, f"get value mismatch at {key}")
        return len(rows)

    def _get(self, spark, batch: list[str]) -> int:
        from hbase_bulkload_spark.operators.hfile_load import multi_get

        rows = multi_get(spark, self.table, batch).collect()
        return self._check_get(batch, [(r.rowkey, r.qualifier, r.value) for r in rows])

    def round(self, spark, i: int) -> list[Op]:
        lo, hi = self.ranges[i % len(self.ranges)]
        calls = [
            ("load", lambda: self._load(spark)),
            ("scan", lambda: self._scan(spark)),
            ("range", lambda: self._check_range(lo, hi, self._range_frame(spark, lo, hi).count())),
        ] + [
            ("get", lambda j=j: self._get(
                spark, self.batches[(i * self.gets_per_round + j) % len(self.batches)]))
            for j in range(self.gets_per_round)
        ]
        ops = []
        for kind, call in calls:
            t0 = time.perf_counter()
            n = call()
            ops.append(Op(kind, time.perf_counter() - t0, n))
        return ops

    def summary(self, ops: list[Op]) -> dict:
        def of(kind):
            return [o for o in ops if o.kind == kind]

        gets = [o.seconds for o in of("get")]
        loads = of("load")
        load_s = sum(o.seconds for o in loads)
        out = {
            "op_p50_s": median(gets),
            "work_per_s": rate_of(ops),
            "ingest_rows_per_s": self.rows * len(loads) / load_s if load_s else 0.0,
            "stored_bytes_per_input_byte": self.stored_bytes / self.input_bytes,
            "files_placed": self.files,
            "load_p50_s": median([o.seconds for o in loads]),
            "scan_cells_per_s": median([o.items / o.seconds for o in of("scan")]),
            "range_scan_p50_s": median([o.seconds for o in of("range")]),
            "get_p50_s": median(gets),
            "get_samples": len(gets),
        }
        if len(gets) >= 100:
            out["get_p90_s"] = statistics.quantiles(gets, n=10)[-1]
        else:
            out["get_p90_s_omitted"] = f"{len(gets)} samples; a p90 needs 100 (10 beyond it)"
        return out

    def trace(self, spark, tracer, untraced: dict) -> dict:
        """The load plan is lazy, so it is timed as cumulative prefixes
        (source → noop, + keys/unpivot/align → noop, + HFile write), then
        the bulk load; a layer's self time is the difference between
        successive prefixes. The reads of the loaded table follow."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from hbase_bulkload_spark.operators.hfile_load import (
            do_bulk_load,
            multi_get,
            plan_block_splits,
            write_region_hfiles,
        )
        from hbase_bulkload_spark.sources import hfile as hf

        shutil.rmtree(self.table, ignore_errors=True)
        staging = os.path.join(self.table, "_staging")
        obs_rows, obs_cells = Observation(), Observation()
        lo, hi = self.ranges[0]
        batch = self.batches[0]
        with tracer.span("ingest"):
            with tracer.span("source"):
                noop(self._read(spark).observe(obs_rows, F.count(F.lit(1)).alias("n")))
            with tracer.span("bulkload"):
                noop(self._aligned(spark).observe(obs_cells, F.count(F.lit(1)).alias("n")))
            with tracer.span("hfile_write"):
                manifest = write_region_hfiles(self._aligned(spark), staging)
            staged = {os.path.basename(m["path"]) for m in manifest}
            staged_bytes = sum(os.path.getsize(m["path"]) for m in manifest)
            with tracer.span("bulk_load"):
                loaded = do_bulk_load(
                    [m["path"] for m in manifest], self.table, list(self.boundaries), spark=spark
                )
            shutil.rmtree(staging)
        check_table(self.table, self.boundaries, self.n_cells)
        check(obs_cells.get["n"] == self.n_cells, "bulkload cell count")
        with tracer.span("read"):
            with tracer.span("hfile_scan"):
                self._scan(spark)
            with tracer.span("range_scan"):
                n_range = self._range_frame(spark, lo, hi).count()
            with tracer.span("multi_get.plan"):
                df = multi_get(spark, self.table, batch)
            with tracer.span("multi_get.exec"):
                rows = [(r.rowkey, r.qualifier, r.value) for r in df.collect()]
            with tracer.span("hfile_get"):
                ks = sorted(k.encode() for k in batch)
                local = []
                for path in placed_files(self.table):
                    first, last = hf.file_key_range(path)
                    sel = ks[bisect_left(ks, first):bisect_right(ks, last)]
                    if sel:
                        local += [
                            (r.decode(), q.decode(), v.decode())
                            for r, _f, q, _ts, v in hf.hfile_multi_get(path, sel)
                        ]
        self._check_range(lo, hi, n_range)
        self._check_get(batch, rows)
        self._check_get(batch, local)

        def blocks(plan):
            return sum(len(b) for _p, _r, _c, b in plan)

        full = plan_block_splits(self.table)
        ranged = plan_block_splits(self.table, start_row=lo.encode(), stop_row=hi.encode())
        src = tracer.seconds("source")
        write = tracer.seconds("hfile_write") - tracer.seconds("bulkload")
        load = tracer.seconds("bulk_load")
        bl = tracer.get("bulk_load")
        get_s = tracer.seconds("multi_get.plan") + tracer.seconds("multi_get.exec")
        traced_round = (
            tracer.seconds("hfile_write") + load + tracer.seconds("hfile_scan")
            + tracer.seconds("range_scan") + get_s
        )
        untraced_round = (
            untraced["load_p50_s"] + self.n_cells / untraced["scan_cells_per_s"]
            + untraced["range_scan_p50_s"] + untraced["get_p50_s"]
        )
        return {
            "source.s": src,
            "source.rows_per_s": self.rows / src,
            # a fixed-arity format has no skip path: every written row decodes
            "source.rows_skipped": self.rows - obs_rows.get["n"],
            "bulkload.s": tracer.seconds("bulkload") - src,
            "bulkload.cells": obs_cells.get["n"],
            "hfile_write.s": write,
            "hfile_write.files": len(manifest),
            "hfile_write.bytes": staged_bytes,
            "hfile_write.cells_per_s": sum(m["entry_count"] for m in manifest) / write,
            "bulk_load.s": load,
            "bulk_load.files_placed": len(loaded),
            "bulk_load.split_tasks": bl["tasks"],
            "bulk_load.rounds": bl["jobs"],
            "bulk_load.bytes_rewritten": sum(
                os.path.getsize(m["path"]) for m in loaded
                if os.path.basename(m["path"]) not in staged
            ),
            "hfile_scan.s": tracer.seconds("hfile_scan"),
            "hfile_scan.partitions": len(full),
            "range_scan.blocks_planned_ratio": blocks(ranged) / blocks(full),
            "multi_get.plan_s": tracer.seconds("multi_get.plan"),
            "multi_get.exec_s": tracer.seconds("multi_get.exec"),
            "multi_get.hit_ratio": sum(k in self.by_key for k in batch) / len(batch),
            "hfile_get.s": tracer.seconds("hfile_get"),
            "trace.overhead_ratio": traced_round / untraced_round,
        }


# ------------------------------------------------------------ near_dedup


class NearDedup(Workload):
    """A synthetic corpus with planted near-duplicate pairs through
    ``minhash_lsh_pairs`` and ``connected_components``. It touches no
    HFile code: the no-change control for storage-layer changes."""

    name = "near_dedup"
    # the first pass takes 3-4x a steady one, the second ~1.3x
    warmup_rounds = 2
    # large enough that executor CPU exceeds the pass's wall time on 4 cores
    docs = 4000
    parts = 8
    threshold = 0.7

    def setup(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.corpus = gen.corpus(self.seed, self.docs)
        self.text = dict(self.corpus.docs)
        self.recall, self.n_pairs = 0.0, 0  # set by each checked pass
        self.input = os.path.join(self.dir, "corpus")
        os.makedirs(self.input)
        ids, texts = zip(*self.corpus.docs)
        table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
        # one file is one scan task: parts let the map-only signature
        # stage use every core
        step = -(-self.docs // self.parts)
        for part in range(self.parts):
            pq.write_table(
                table.slice(part * step, step),
                os.path.join(self.input, f"part-{part:05d}.parquet"),
            )
        self.info = {
            "docs": self.docs,
            "planted_pairs": len(self.corpus.planted),
            "threshold": self.threshold,
            "input_bytes": dir_bytes(self.input),
        }

    def _dedup(self, spark):
        from hbase_bulkload_spark.operators.dedup import connected_components, minhash_lsh_pairs

        docs = spark.read.parquet(self.input)
        pairs_df = minhash_lsh_pairs(docs, self.threshold).localCheckpoint()
        pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
        n_comp = (
            connected_components(pairs_df, docs.select("doc_id"))
            .select("comp_id").distinct().count()
        )
        return pairs, n_comp

    def _check(self, pairs, n_comp) -> None:
        """Every reported pair is at or above the threshold, every planted
        pair is reported (see ``gen.corpus`` for why recall must be 1) and
        the components agree with the pairs."""
        for a, b in pairs:
            check(gen.jaccard(self.text[a], self.text[b]) >= self.threshold - 1e-9,
                  f"pair ({a}, {b}) below the threshold")
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        merges = 0
        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
                merges += 1
        check(n_comp == self.docs - merges, f"{n_comp} components")
        found = {tuple(sorted(p)) for p in pairs}
        missed = [p for p in self.corpus.planted if p not in found]
        self.recall = 1 - len(missed) / len(self.corpus.planted)
        check(not missed, f"{len(missed)} planted pairs not found, e.g. {missed[:3]}")

    def round(self, spark, i: int) -> list[Op]:
        t0 = time.perf_counter()
        pairs, n_comp = self._dedup(spark)
        dt = time.perf_counter() - t0
        self._check(pairs, n_comp)
        self.n_pairs = len(pairs)
        return [Op("dedup", dt, self.docs)]

    def summary(self, ops: list[Op]) -> dict:
        rate = rate_of(ops)
        return {
            "op_p50_s": median([o.seconds for o in ops]),
            "work_per_s": rate,
            "dedup_docs_per_s": rate,
            "dedup_recall": self.recall,
            "dedup_pairs": self.n_pairs,
        }

    def trace(self, spark, tracer, untraced: dict) -> dict:
        from hbase_bulkload_spark.operators.dedup import (
            connected_components,
            lsh_banding_params,
            minhash_lsh_pairs,
            minhash_signatures,
        )

        docs = spark.read.parquet(self.input)
        k, _bands = lsh_banding_params(self.threshold)
        with tracer.span("dedup"):
            with tracer.span("dedup.signature"):
                noop(minhash_signatures(docs, k=k))
            with tracer.span("dedup.pairs"):
                pairs_df = minhash_lsh_pairs(docs, self.threshold).localCheckpoint()
                pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
            with tracer.span("dedup.components"):
                n_comp = (
                    connected_components(pairs_df, docs.select("doc_id"))
                    .select("comp_id").distinct().count()
                )
        self._check(pairs, n_comp)
        sig = tracer.seconds("dedup.signature")
        return {
            "dedup.signature_s": sig,
            "dedup.pairs_s": tracer.seconds("dedup.pairs") - sig,
            "dedup.components_s": tracer.seconds("dedup.components"),
            "dedup.pairs": len(pairs),
            "trace.overhead_ratio": (
                tracer.seconds("dedup.pairs") + tracer.seconds("dedup.components")
            ) / untraced["op_p50_s"],
        }


WORKLOADS = {w.name: w for w in (RcfileLoadRead, NearDedup)}
