"""Tests for the bulk-load benchmark's generators and output contract.

    python3 -m pytest bulkbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402


def _rcfile_bytes(tmp_path, name: str, seed: int) -> bytes:
    from hbase_bulkload_spark.sources import rcfile

    path = tmp_path / name
    rcfile.write_rcfile(str(path), gen.records(seed, 3000).rows, gen.N_COLS, codec="deflate")
    return path.read_bytes()


def test_same_seed_same_inputs(tmp_path):
    assert _rcfile_bytes(tmp_path, "a.rc", 7) == _rcfile_bytes(tmp_path, "b.rc", 7)
    assert _rcfile_bytes(tmp_path, "c.rc", 7) != _rcfile_bytes(tmp_path, "d.rc", 8)
    assert gen.corpus(3, 500) == gen.corpus(3, 500)
    keys = sorted(gen.table_rows(gen.records(3, 2000)))
    assert gen.get_batches(4, keys, 5, 16) == gen.get_batches(4, keys, 5, 16)
    assert gen.range_bounds(5, 8) == gen.range_bounds(5, 8)


def test_planted_nulls_are_exact():
    recs = gen.records(11, 10_000)
    assert recs.n_null_last == 100
    assert sum(r[-1] is None for r in recs.rows) == 100
    assert all(v is not None for r in recs.rows for v in r[:-1])
    assert sum(gen.n_cells(r) for r in recs.rows) == 9 * 10_000 - 100


def test_rowkeys_unique_and_engine_shaped():
    keys = gen.table_rows(gen.records(2, 5000))
    assert len(keys) == 5000
    assert all(len(k) == 128 for k in keys)


def test_planted_pairs_and_absent_keys_are_exact():
    c = gen.corpus(9, 1000)
    text = dict(c.docs)
    assert len(c.docs) == 1000 and len(c.planted) == 100
    assert len({b for b, _ in c.planted}) == 100
    # the floor gen.corpus derives its recall guarantee from
    assert all(gen.jaccard(text[a], text[b]) >= 92 / 104 for a, b in c.planted)
    keys = sorted(gen.table_rows(gen.records(9, 3000)))
    present = set(keys)
    for batch in gen.get_batches(9, keys, 10, 64):
        assert len(set(batch)) == 64
        assert sum(k not in present for k in batch) == 16


def test_range_bounds_cover_a_256th():
    for lo, hi in gen.range_bounds(1, 20):
        assert len(lo) == len(hi) == 6
        assert int(hi, 16) - int(lo, 16) == 16 ** 6 // 256


def _small_dedup(tmp_path):
    wl = workloads.NearDedup(5, str(tmp_path))
    wl.docs = 200
    wl.setup(None)  # writes the corpus with pyarrow; no Spark needed
    return wl


def test_dedup_check_requires_every_planted_pair(tmp_path):
    wl = _small_dedup(tmp_path)
    planted = wl.corpus.planted
    wl._check(planted, wl.docs - len(planted))
    assert wl.recall == 1.0
    with pytest.raises(workloads.CheckFailed, match="planted pairs not found"):
        wl._check([], wl.docs)
    assert wl.recall == 0.0
    with pytest.raises(workloads.CheckFailed):
        wl._check(planted[1:], wl.docs - len(planted) + 1)


def test_summary_of_a_window_without_successful_ops(tmp_path):
    summary = _small_dedup(tmp_path).summary([])
    assert summary["op_p50_s"] == 0 and summary["work_per_s"] == 0


def _session_members(sid: int) -> list[int]:
    members = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                    members.append(int(d))
        except (OSError, ValueError, IndexError):
            pass
    return members


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_the_declared_metrics(trace):
    # its own session, so every process the run starts can be found
    proc = subprocess.Popen(
        [sys.executable, "bulkbench/run.py", "--workload", "rcfile_load_read", "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    assert proc.returncode == 0, stderr[-3000:]
    assert _session_members(proc.pid) == [], "the run left processes behind"
    result = json.loads(stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in want]
    assert all(result["metrics"][m["name"]]["unit"] == m["unit"] for m in want)
    if trace:
        layers = {k: v["value"] for k, v in result["metrics"].items()}
        # RCFile has no skip path; the HexStringSplit fences cut 8 files
        assert layers["source.rows_skipped"] == 0
        assert layers["bulk_load.split_tasks"] == 8
        assert layers["multi_get.hit_ratio"] == 0.75
