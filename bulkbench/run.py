#!/usr/bin/env python3
"""Bulk-load benchmark: an RCFile load re-split into HexStringSplit
regions and read back, and near-dedup, each a closed loop with one
client on ``local[<cores>]``.

    python3 bulkbench/run.py --workload rcfile_load_read --seed 1 --seconds 16 --trace 0

Run from the repository root. A run generates its inputs from
``--seed`` under ``.bench_data/`` (deleted when the run ends, after
the JVM and its Python workers are stopped and have exited) and sets
up ``1 + WARM_SETUPS`` times, each time starting a Spark session and
generating the inputs; only the first also launches the JVM, and
``setup_s`` is the median of the others. It runs untimed warm-up
rounds, then whole rounds of operations for ``--seconds`` seconds (the
last round may end after it), checking each operation's output;
warm-up and timed operations alike count in ``attempted`` and
``failed``. With ``--trace 1`` it then runs one traced pass that times
each layer.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, the ``per_layer`` ones with
``--trace 1``). The line before it holds the run's details: seed,
sizes, input bytes, cores, memory, CPU probe, the hypervisor's steal
share during the window, per-operation samples and, when traced, the
spans.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARM_SETUPS = 5
DRIVER_MEMORY = "3g"
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
STOP_GRACE_S = 20.0  # per signal, before the next one


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {key: spec[key] for key in ("end_to_end", "per_layer")}


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def isolate(work: str, cpus: int) -> None:
    """Keep every file the run writes inside ``work``: Spark's scratch
    space, JVM and Python temp files, and no bytecode caches. Must run
    before the JVM starts, which inherits this environment."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # read by the engine's own split planning on the driver
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.dont_write_bytecode = True


def descendants(root: int) -> list[int]:
    """Every process below ``root``, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    found, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        todo += kids
    return found


def adopt_orphans() -> None:
    """Make this process the reaper of every process below it, so one
    whose parent exits first (a Python worker under the JVM) is still
    reparented here and waited for, not left to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_engine() -> None:
    """Stop the JVM the session launched and every process under it
    (the Python worker daemon and its workers), and wait until each
    has ended. ``spark.stop()`` leaves the JVM running until it sees
    this process exit, so without this it outlives the run."""
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        if getattr(gateway, "proc", None) is not None and gateway.proc.stdin:
            gateway.proc.stdin.close()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + STOP_GRACE_S
        while time.monotonic() < deadline:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    time.sleep(0.05)
            except ChildProcessError:
                return  # every process the run started has ended
    raise RuntimeError(f"processes still running: {descendants(os.getpid())}")


def run(args) -> tuple[dict, dict]:
    from probe import Tracer, cpu_probe, cpu_times, event_log_totals, steal_share
    from workloads import WORKLOADS

    from hbase_bulkload_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_data", f"{args.workload}-{args.seed}-{os.getpid()}")
    adopt_orphans()
    isolate(work, cpus)
    conf = session_conf(work, args.trace)
    detail: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cpus,
        "driver_memory": DRIVER_MEMORY,
        "cpu_probe_before_s": cpu_probe(),
    }
    spark = None
    attempted = failed = 0

    def play(i: int) -> list:
        """Round ``i``, its operations counted as attempted; a failed
        round counts as one failed operation and is not fatal."""
        nonlocal attempted, failed
        try:
            done = wl.round(spark, i)
        except Exception as e:
            traceback.print_exc()
            attempted += 1
            failed += 1
            detail.setdefault("failures", []).append(f"round {i}: {e!r}")
            return []
        attempted += len(done)
        return done

    try:
        setups = []
        for rep in range(1 + WARM_SETUPS):
            rep_dir = os.path.join(work, f"setup{rep}")
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark("bulkbench", cpus=cpus, extra_conf=conf)
            wl = WORKLOADS[args.workload](args.seed, rep_dir)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            if rep < WARM_SETUPS:
                shutil.rmtree(rep_dir)
        # only the first set-up launches the JVM; setup_s leaves it out
        detail["setup_cold_s"], detail["setup_warm_s"] = setups[0], setups[1:]
        detail["inputs"] = wl.info

        detail["warmup_rounds_s"] = []
        for i in range(-wl.warmup_rounds, 0):
            t0 = time.perf_counter()
            play(i)
            detail["warmup_rounds_s"].append(time.perf_counter() - t0)

        ops, i = [], 0
        ticks = cpu_times()
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            ops += play(i)
            i += 1
        detail["window_steal_share"] = steal_share(ticks, cpu_times())
        summary = wl.summary(ops)
        detail["ops"] = [[o.kind, o.seconds, o.items] for o in ops]
        detail["summary"] = summary

        metrics = {
            "setup_s": statistics.median(setups[1:]),
            "op_p50_s": summary["op_p50_s"],
            "work_per_s": summary["work_per_s"],
        }
        if args.trace:
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            attempted += 1
            try:
                layers = wl.trace(spark, tracer, summary)
            except Exception as e:
                traceback.print_exc()
                failed += 1
                detail.setdefault("failures", []).append(f"traced pass: {e!r}")
                layers = {}
        detail["peak_rss_mb_omitted"] = (
            "peak RSS of the JVM + Python tree varied 10-40 % between runs of one seed"
        )
        spark.stop()
        spark = None
        if args.trace:
            groups = event_log_totals(os.path.join(work, "eventlog"))
            ids = {s["id"] for s in tracer.spans}
            bulkload = next((s["id"] for s in tracer.spans if s["name"] == "bulkload"), None)
            layers.update({
                "spark.jobs": sum(s["jobs"] for s in tracer.spans),
                "spark.tasks": sum(s["tasks"] for s in tracer.spans),
                "spark.executor_cpu_s": sum(
                    g["cpu_s"] for gid, g in groups.items() if gid in ids
                ),
                "bulkload.shuffle_write_bytes": groups.get(bulkload, {}).get(
                    "shuffle_write_bytes", 0
                ),
            })
            detail["spans"] = tracer.spans
            metrics = {**summary, **layers, "failed_op_ratio": failed / attempted}
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if spark is not None:
                spark.stop()
        finally:
            try:
                stop_engine()
            finally:
                shutil.rmtree(work, ignore_errors=True)
                try:
                    os.rmdir(os.path.dirname(work))
                except OSError:  # another run's data is still there
                    pass
    detail["cpu_probe_after_s"] = cpu_probe()
    detail["attempted"], detail["failed"] = attempted, failed
    return detail, metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and deletes its data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [HERE, ROOT]
    try:
        import hbase_bulkload_spark  # noqa: F401
    except ImportError as e:
        print(f"bulkbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    specs = metric_specs()

    try:
        detail, values = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    wanted = specs["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        # a layer this workload does not run did no work
        values = {m["name"]: 0 for m in wanted} | values
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"bulkbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
