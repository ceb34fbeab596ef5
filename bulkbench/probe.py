"""Measurement helpers for the bulk-load benchmark: spans around the
benchmark's own calls into each layer, Spark job and task counts per
span, executor CPU and shuffle bytes from the Spark event log, and a
fixed-work CPU probe."""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import os
import time
from contextlib import contextmanager


def cpu_probe() -> float:
    """Seconds for a fixed amount of single-threaded hashing. Context
    only: it says how loaded the machine was, and no reported number is
    adjusted by it."""
    block = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    h.digest()
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to other
    guests between two :func:`cpu_times` readings. Context only, like
    :func:`cpu_probe`."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


class Tracer:
    """Spans (name, start, end, parent, run id) held in memory. Each
    span runs its Spark jobs under its own job group, so the jobs and
    tasks a span launched can be counted from the status tracker and
    matched to event-log records."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}/{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(rec["id"])
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def seconds(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU seconds and shuffle bytes written,
    folded from the uncompressed event log of a stopped session."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(group, {"cpu_s": 0.0, "shuffle_write_bytes": 0})
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
    return out
