"""Traced run: spans around the program's layer boundaries, measured
from the benchmark's side.

Spark work is lazy, so a layer's cost lands where an action fires. The
tracer wraps pyspark's action entry points (``DataFrame.count``,
``collect``, ``toPandas``; ``DataFrameWriter.save``, ``parquet``) and
records one span per action, named after the program function that
called it. Each action runs under its own job group, so its stages can
be read back from Spark's status store (run time, CPU, shuffle, spill,
tasks); the CPU of the Python workers, which the executor metrics do not
see, is read from ``/proc`` at the span's edges. The eager public
functions of ``plans.snapshots`` and ``plans.pipeline.compact_manifest``
get plain spans. A layer's time is the self time of its spans: span
duration minus the part covered by child spans.

Layer assignment inside ``run_pipeline`` follows where its actions
force work: the quarantine write forces the persisted parse, the audit
count forces the doc_key-partitioned clause cache, and the edges write
runs the canonical chain. The program fuses that chain's extraction,
rewrite joins and dedup into one stage over the co-partitioned clause
cache, and that stage is also the parquet write, so the edges write's
last stage is reported as ``canonical_write`` (both layers) and only its
earlier stages count as ``canonical``.
"""

from __future__ import annotations

import inspect
import os
import sys
import time
from contextlib import contextmanager

from perfbench import procstat

_PROGRAM = os.sep + "fastobo_py_spark" + os.sep
_HERE = os.path.abspath(__file__)
_CANONICAL_MODULES = ("canonicalize", "components", "triples")
_ACTIONS = (("DataFrame", "count"), ("DataFrame", "collect"), ("DataFrame", "toPandas"),
            ("DataFrameWriter", "save"), ("DataFrameWriter", "parquet"))


class Span:
    __slots__ = ("name", "layer", "t0", "t1", "py0", "py1", "group", "children_s", "stages")

    def __init__(self, name, layer, group):
        self.name, self.layer, self.group = name, layer, group
        self.t0 = self.t1 = self.py0 = self.py1 = 0.0
        self.children_s = 0.0
        self.stages: list[dict] = []

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


def _caller() -> tuple[str, str]:
    """(module, function) of the nearest program frame on the stack, else
    of the nearest frame outside pyspark and this file."""
    fallback = None
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if _PROGRAM in fn:
            return os.path.splitext(os.path.basename(fn))[0], f.f_code.co_name
        if fallback is None and os.path.abspath(fn) != _HERE and os.sep + "pyspark" + os.sep not in fn:
            fallback = (os.path.splitext(os.path.basename(fn))[0], f.f_code.co_name)
        f = f.f_back
    return fallback or ("?", "?")


def classify(module: str, func: str, action: str, path: str | None, label: str | None) -> str:
    """Layer of an action span from its program call site."""
    if func == "run_pipeline":
        if action == "count":
            return "surrogate"
        leaf = os.path.basename((path or "").rstrip("/"))
        return {"quarantine": "parse", "nodes": "materialize.nodes", "edges": "edges_write",
                "_manifest": "manifest"}.get(leaf, "other")
    if func == "canonical_edges" or module in _CANONICAL_MODULES:
        return "canonical"
    if func == "compact_manifest":
        return "manifest"
    return label or "other"


def _stage_wall_s(st: dict) -> float:
    if st["submitted"] is None or st["completed"] is None:
        return 0.0
    return (st["completed"] - st["submitted"]) / 1000.0


class Tracer:
    """Install with :meth:`install`; bracket each traced op with
    :meth:`begin_op` / :meth:`end_op`. Outside an op the wrappers call
    straight through."""

    def __init__(self, spark, jvm_pid: int | None):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.active = False
        self.label: str | None = None
        self.spans: list[Span] = []
        self.files_listed = 0
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op_group = ""
        self._n = 0
        self._stage_watermark = -1

    # -- installation ------------------------------------------------------

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from fastobo_py_spark.plans import pipeline, snapshots

        owners = {"DataFrame": DataFrame, "DataFrameWriter": DataFrameWriter}
        for owner, name in _ACTIONS:
            self._patch(owners[owner], name, self._action(name, getattr(owners[owner], name)))
        for name, fn in inspect.getmembers(snapshots, inspect.isfunction):
            if not name.startswith("_") and fn.__module__ == snapshots.__name__:
                self._patch(snapshots, name, self._plain("snapshots", name, fn))
        self._patch(pipeline, "compact_manifest", self._plain("manifest", "compact_manifest", pipeline.compact_manifest))
        self._stage_watermark = self._max_stage_id()

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    def _patch(self, owner, name, wrapper) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, wrapper)

    def _action(self, action: str, orig):
        tracer = self

        def wrapper(obj, *args, **kwargs):
            if not tracer.active:
                return orig(obj, *args, **kwargs)
            module, func = _caller()
            path = kwargs.get("path", args[0] if args else None) if action in ("parquet", "save") else None
            layer = classify(module, func, action, path if isinstance(path, str) else None, tracer.label)
            with tracer.span(f"{func}.{action}", layer, group=True):
                return orig(obj, *args, **kwargs)

        return wrapper

    def _plain(self, layer: str, name: str, orig):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name, layer):
                out = orig(*args, **kwargs)
            if name == "list_data_files":
                tracer.files_listed += sum(len(v) for v in out.values())
            return out

        return wrapper

    # -- spans -------------------------------------------------------------

    def _py_cpu(self) -> float:
        return sum(procstat.python_workers(procstat.snapshot_tree(), self.jvm_pid).values())

    @contextmanager
    def span(self, name: str, layer: str, group: bool = False):
        parent = self._stack[-1] if self._stack else None
        gid = None
        if group:
            self._n += 1
            gid = f"{self._op_group}.{self._n}"
            self.sc.setJobGroup(gid, gid)
        s = Span(name, layer, gid)
        self._stack.append(s)
        s.py0 = self._py_cpu()
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.py1 = self._py_cpu()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.dur
            if group:
                outer = next((p.group for p in reversed(self._stack) if p.group), self._op_group)
                self.sc.setJobGroup(outer, outer)
            self.spans.append(s)

    def begin_op(self, op_ix: int) -> None:
        self._op_group = f"pb-op{op_ix}"
        self._n = 0
        self.spans = []
        self.files_listed = 0
        self.sc.setJobGroup(self._op_group, self._op_group)
        self.active = True

    def end_op(self) -> dict:
        """Deactivate and return the op's layer metrics (read from the
        status store after the op, outside its timed region)."""
        self.active = False
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        stages = self._new_stages()
        by_group: dict[str, list[dict]] = {}
        for st in stages:
            by_group.setdefault(st["group"], []).append(st)
        groups = [self._op_group] + [s.group for s in self.spans if s.group]
        for s in self.spans:
            if s.group:
                s.stages = by_group.get(s.group, [])
        jobs = sum(len(self.sc.statusTracker().getJobIdsForGroup(g)) for g in groups)
        mine = [st for g in groups for st in by_group.get(g, [])]
        return self._layer_metrics(mine, jobs)

    def _max_stage_id(self) -> int:
        st = self._stage_list()
        return st.apply(0).stageId() if st.size() else -1

    def _stage_list(self):
        gw = self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        return store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)

    def _new_stages(self) -> list[dict]:
        """Completed stages newer than the last read (the list is in
        descending stage id order)."""
        out = []
        st = self._stage_list()
        top = self._stage_watermark
        for i in range(st.size()):
            sd = st.apply(i)
            sid = sd.stageId()
            if sid <= self._stage_watermark:
                break
            top = max(top, sid)
            if sd.status().toString() != "COMPLETE":
                continue
            desc = sd.description()
            sub, comp = sd.submissionTime(), sd.completionTime()
            out.append({
                "id": sid,
                "group": desc.get() if desc.isDefined() else "",
                "tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_write": sd.shuffleWriteBytes(),
                "shuffle_read": sd.shuffleReadBytes(),
                "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "submitted": sub.get().getTime() if sub.isDefined() else None,
                "completed": comp.get().getTime() if comp.isDefined() else None,
            })
        self._stage_watermark = top
        return out

    def _layer_metrics(self, stages: list[dict], jobs: int) -> dict:
        mb = 1 << 20
        m = {
            "spark.jobs": jobs,
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.executor_run_s": sum(s["run_s"] for s in stages),
            "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
            "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / mb,
            "spark.spill_mb": sum(s["spill"] for s in stages) / mb,
            "spark.cached_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "snapshots.files_listed": self.files_listed,
        }
        t = {k: 0.0 for k in ("parse.s", "parse.cpu_s", "surrogate.audit_s", "canonical.s", "canonical.cpu_s",
                              "canonical_write.s", "canonical_write.cpu_s", "materialize.nodes_s",
                              "snapshots.s", "manifest.s")}
        for s in self.spans:
            exec_cpu = sum(st["cpu_s"] for st in s.stages)
            py_cpu = s.py1 - s.py0
            if s.layer == "parse":
                t["parse.s"] += s.self_s
                t["parse.cpu_s"] += exec_cpu + py_cpu
            elif s.layer == "surrogate":
                t["surrogate.audit_s"] += s.self_s
            elif s.layer == "canonical":
                t["canonical.s"] += s.self_s
                t["canonical.cpu_s"] += exec_cpu + py_cpu
            elif s.layer == "edges_write":
                # worker CPU is read per action, not per stage: it is
                # counted with the fused stage
                final = max(s.stages, key=lambda st: st["id"]) if s.stages else None
                fused_s = min(_stage_wall_s(final), s.self_s) if final else 0.0
                t["canonical_write.s"] += fused_s
                t["canonical_write.cpu_s"] += (final["cpu_s"] if final else 0.0) + py_cpu
                t["canonical.s"] += s.self_s - fused_s
                t["canonical.cpu_s"] += exec_cpu - (final["cpu_s"] if final else 0.0)
            elif s.layer == "materialize.nodes":
                t["materialize.nodes_s"] += s.self_s
            elif s.layer == "snapshots":
                t["snapshots.s"] += s.self_s
            elif s.layer == "manifest":
                t["manifest.s"] += s.self_s
            elif s.layer.endswith(".plan"):
                m[f"{s.layer}_s"] = m.get(f"{s.layer}_s", 0.0) + s.self_s
            elif s.layer.startswith("query."):
                m[f"{s.layer}.s"] = m.get(f"{s.layer}.s", 0.0) + s.self_s
                m[f"{s.layer}.shuffle_mb"] = m.get(f"{s.layer}.shuffle_mb", 0.0) + sum(
                    st["shuffle_write"] for st in s.stages) / mb
        m.update(t)
        return m
