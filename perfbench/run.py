#!/usr/bin/env python3
"""Steady-state benchmark: KG build and headline query mix.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session at
``local[nproc]``, one closed-loop client. After set-up (session start,
seeded inputs, oracle expectations and a fixed number of warm-up ops) it
runs ops for ``--seconds``, checks every op's output and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it describes the run (host load, steal, versions, inputs, op times).
See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 165.0

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_cpu_s": "s"}
_QUERY_LAYER = {
    f"query.{q}.{m}": u
    for q in (
        "pricing_summary", "region_revenue", "orders_topk_window", "events_sessionize",
        "text_stats", "dedup_minhash_lsh", "dedup_simhash", "ann_bruteforce_topk",
    )
    for m, u in (("s", "s"), ("plan_s", "s"), ("shuffle_mb", "MB"))
}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.cached_rdds": "count",
    "memory.retained_mb": "MB", "memory.heap_peak_mb": "MB", "memory.python_pss_peak_mb": "MB",
    "python.cpu_s": "s", "python.workers_started": "count",
    "parse.s": "s", "parse.cpu_s": "s", "parse.clause_rows": "count", "parse.quarantined_docs": "count",
    "surrogate.audit_s": "s", "surrogate.collisions": "count",
    "canonical.s": "s", "canonical.cpu_s": "s", "canonical.edges": "count",
    "canonical_write.s": "s", "canonical_write.cpu_s": "s",
    "materialize.nodes_s": "s", "materialize.files_written": "count",
    "materialize.bytes_written": "bytes", "materialize.stored_bytes_per_input_byte": "ratio",
    "snapshots.s": "s", "snapshots.files_listed": "count",
    "manifest.s": "s", "manifest.rows": "count",
    **_QUERY_LAYER,
    "trace.overhead_s": "s",
}


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("kg_build", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(work: str, nproc: int) -> None:
    """Everything the session and its workers read from the environment,
    pinned so runs differ only by seed: worker import path, core count,
    interpreter and scratch space inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def _start_spark(work: str, nproc: int):
    from fastobo_py_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under /tmp: the run writes only in its checkout
            "spark.driver.extraJavaOptions": os.environ.get("PB_JOPT","") + f" -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def _heap_used(spark):
    """Reader of the driver JVM's used heap, in bytes. In local mode the
    executors and their cached blocks live in that heap."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return lambda: bean.getHeapMemoryUsage().getUsed()


def _retained_bytes(spark, jvm_pid: int) -> tuple[int, int]:
    """Memory the run holds after its ops: the JVM's live heap after a full
    collection (cached blocks, broadcasts, driver state) plus the PSS of
    every other process in the tree (the Python driver and workers)."""
    import gc

    from perfbench import procstat

    # Python first: a dead DataFrame proxy keeps its JVM object reachable
    # until Python collects it and py4j releases it. The first JVM
    # collection only queues dead broadcasts and shuffles for Spark's
    # ContextCleaner, which frees their blocks asynchronously; the second
    # one, after it had time to, leaves the live set.
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return heap, procstat.resident_bytes(p for p in procstat.snapshot_tree() if p != jvm_pid)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _reap_leftovers(timeout_s: float = 15.0) -> None:
    from perfbench import procstat

    t0 = time.time()
    while time.time() - t0 < timeout_s:
        left = [p for p in procstat.snapshot_tree() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class _Op:
    __slots__ = ("wall", "cpu", "ok", "layers")

    def __init__(self, wall, cpu, ok, layers):
        self.wall, self.cpu, self.ok, self.layers = wall, cpu, ok, layers


def _run_op(wl, spark, i, tracer, sampler, jvm_pid, errors) -> tuple[_Op, object]:
    from perfbench import procstat

    traced = tracer is not None
    if traced:
        tree = procstat.snapshot_tree()
        py0 = sum(procstat.python_workers(tree, jvm_pid).values())
        pids0 = sampler.worker_pids()
        sampler.take_peaks()
        tracer.begin_op(i)
    out, bad = None, []
    cpu0 = procstat.tree_cpu_seconds()
    t0 = time.perf_counter()
    try:
        out = wl.op(spark, i, tracer)
    except Exception:
        bad = ["op raised:\n" + traceback.format_exc()]
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_seconds() - cpu0
    layers = None
    if traced:
        layers = tracer.end_op()
        tree = procstat.snapshot_tree()
        layers["python.cpu_s"] = sum(procstat.python_workers(tree, jvm_pid).values()) - py0
        layers["python.workers_started"] = len(sampler.worker_pids() - pids0)
        heap, python = sampler.take_peaks()
        layers["memory.heap_peak_mb"] = heap / (1 << 20)
        layers["memory.python_pss_peak_mb"] = python / (1 << 20)
    if out is not None:
        bad = wl.check(out)
    if bad:
        errors.extend(f"op {i}: {b}" for b in bad)
    return _Op(wall, cpu, not bad, layers), out


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fastobo_py_spark")):
        print(f"perfbench: no fastobo_py_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procstat

    t_start = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work, nproc)
    host0, load0, cpu0 = procstat.host_cpu_ticks(), os.getloadavg()[0], procstat.tree_cpu_seconds()

    t0 = time.perf_counter()
    spark = _start_spark(work, nproc)
    session_s = time.perf_counter() - t0
    try:
        return _bench(args, spark, work, nproc, session_s, t_start, (host0, load0, cpu0))
    finally:
        _stop_spark(spark)
        _reap_leftovers()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _bench(args, spark, work, nproc, session_s, t_start, start) -> int:
    import pyspark
    from pyspark import SparkContext

    from perfbench import procstat, workloads
    from perfbench.trace import Tracer

    jvm_pid = SparkContext._gateway.proc.pid
    wl = workloads.make(args.workload, work, args.seed, nproc)
    errors: list[str] = []

    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    errors += [f"oracle: {b}" for b in wl.prepare(spark)]
    prepare_s = time.perf_counter() - t0

    tracer = Tracer(spark, jvm_pid) if args.trace else None
    if tracer:
        tracer.install()
    ops: list[_Op] = []
    # the sampler serves the per-layer metrics only: untraced runs do not
    # pay for its polling
    with procstat.Sampler(jvm_pid, _heap_used(spark)) if tracer else nullcontext() as sampler:
        # warm-up: a fixed number of ops per workload (see NOTES.md)
        warm: list[_Op] = []
        t_warm = time.perf_counter()
        while len(warm) < wl.warm_ops:
            op, out = _run_op(wl, spark, len(warm), None, sampler, jvm_pid, errors)
            if not warm and out is not None:
                errors += [f"full check: {b}" for b in wl.check_full(spark, out)]
            if out is not None:
                wl.after(out)
            warm.append(op)
        warm_s = time.perf_counter() - t_warm

        t_meas = time.perf_counter()
        i = len(warm)
        # a traced run needs one traced and one untraced op for trace.overhead_s
        min_ops = 2 if tracer else 1
        while len(ops) < min_ops or (time.perf_counter() - t_meas < args.seconds
                                     and time.perf_counter() - t_start < DEADLINE_S):
            traced = tracer is not None and len(ops) % 2 == 0
            op, out = _run_op(wl, spark, i, tracer if traced else None, sampler, jvm_pid, errors)
            if out is not None:
                counts = wl.after(out)
                if op.layers is not None:
                    op.layers.update(counts)
            ops.append(op)
            i += 1
    if tracer:
        tracer.uninstall()
    retained = _retained_bytes(spark, jvm_pid)

    host0, load0, cpu0 = start
    host1, tree_cpu = procstat.host_cpu_ticks(), procstat.tree_cpu_seconds() - cpu0
    failed = sum(not o.ok for o in warm + ops)
    med = statistics.median
    setup_s = session_s + generate_s + prepare_s + warm_s
    if args.trace:
        traced_ops = [o for o in ops if o.layers is not None]
        plain = [o.wall for o in ops if o.layers is None]
        values = {k: med([o.layers.get(k, 0) for o in traced_ops]) for k in PER_LAYER}
        values["memory.retained_mb"] = sum(retained) / (1 << 20)
        values["trace.overhead_s"] = med([o.wall for o in traced_ops]) - med(plain) if plain else 0.0
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": med([o.wall for o in ops]),
            "op_cpu_s": med([o.cpu for o in ops]),
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": nproc,
        "versions": {"spark": pyspark.__version__, "python": sys.version.split()[0],
                     "java": spark.sparkContext._jvm.System.getProperty("java.version")},
        "load_1m": [round(load0, 2), round(os.getloadavg()[0], 2)],
        "host_steal_s": round(procstat.ticks_to_seconds(host1["steal"] - host0["steal"]), 2),
        # host busy time not spent by this process tree: other tenants
        "host_other_busy_s": round(procstat.ticks_to_seconds(host1["busy"] - host0["busy"]) - tree_cpu, 2),
        "tree_cpu_s": round(tree_cpu, 2),
        "retained_mb": {"heap": round(retained[0] / (1 << 20), 1), "python": round(retained[1] / (1 << 20), 1)},
        "inputs": wl.describe(),
        "setup": {"session_s": round(session_s, 3), "generate_s": round(generate_s, 3),
                  "prepare_s": round(prepare_s, 3), "warm_s": round(warm_s, 3)},
        "warm_ops": [[round(o.wall, 3), round(o.cpu, 2)] for o in warm],
        "ops": [[round(o.wall, 3), round(o.cpu, 2), o.layers is not None] for o in ops],
        "errors": errors[:20],
    }
    print(json.dumps({"info": info}))
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"correct": not errors, "attempted": len(warm) + len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
