"""In-memory span recorder for the benchmark's traced runs.

Spans are taken around calls into the engine's layers. The wrappers are
installed at every module attribute that binds a traced function (the
package uses from-imports, so ``sources.iceberg.load_table_scan`` and
``plans.manifests.load_table_scan`` are two bindings of one function).
Spark-side numbers (Catalyst phases, job-group jobs/stages/tasks and the
executed plan's SQL metrics) are read after each op, outside its span,
so reading them costs the op nothing.

A span is ``(name, start, end, parent, op)``; a layer's self time is its
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import statistics
import sys
import threading
import time
from collections import defaultdict

# Layer of each traced function: (module, attribute) -> span name.
PLAN_FUNCS = {
    ("duckdb_iceberg_spark.plans.table_metadata", "load_table_metadata"): "plans.load_metadata",
    ("duckdb_iceberg_spark.plans.manifests", "load_table_scan"): "plans.table_scan",
    ("duckdb_iceberg_spark.plans.avro", "read_avro_file"): "plans.avro_read",
    ("duckdb_iceberg_spark.plans.avro", "write_avro_file"): "plans.avro_write",
    ("duckdb_iceberg_spark.sources.iceberg", "iceberg_scan"): "sources.scan_build",
    ("duckdb_iceberg_spark.sources.iceberg", "iceberg_snapshots"): "sources.scan_build",
    ("duckdb_iceberg_spark.sources.iceberg", "iceberg_metadata"): "sources.scan_build",
    ("duckdb_iceberg_spark.operators.dedup", "minhash_signatures"): "operators.build",
    ("duckdb_iceberg_spark.operators.similarity", "knn_join"): "operators.build",
    ("duckdb_iceberg_spark.operators.similarity", "cosine_topk"): "operators.build",
    ("duckdb_iceberg_spark.functions.text", "quality_score"): "operators.build",
    ("duckdb_iceberg_spark.functions.text", "lang_id"): "operators.build",
}
# File-pruning helpers of iceberg_scan: (entries in) -> (entries kept).
PRUNE_FUNCS = ("_prune_by_stats", "_prune_by_partition")
WRITER_METHODS = {
    "create": "writer.create",
    "append": "writer.append",
    "add_files": "writer.append",
    "delete_where": "writer.delete",
    "merge": "writer.merge",
}

_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: Some\([^)]*\), value: (-?\d+)\)")
_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
# executed-plan SQL metric key -> benchmark counter
SQL_METRICS = {
    "numFiles": "exec.files_read",
    "filesSize": "exec.bytes_read",
    "shuffleBytesWritten": "exec.shuffle_bytes_written",
    "spillSize": "exec.spill_bytes",
    "peakMemory": "exec.peak_memory_bytes",
    "pythonBootTime": "pyworker.boot_ms",
    "pythonInitTime": "pyworker.init_ms",
    "pythonTotalTime": "pyworker.total_ms",
    "pythonDataSent": "pyworker.bytes_sent",
    "pythonDataReceived": "pyworker.bytes_received",
}


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi], in ms."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0


class Tracer:
    """Records spans and per-op counters. ``enabled=False`` makes every
    hook a no-op, so untraced runs pay one attribute check per call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts = defaultdict(float)  # counter -> total over traced ops
        self.samples = defaultdict(list)  # counter -> per-event values
        self.traced_ops = 0
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._op = None
        self._group = None
        self._dfs: list = []
        self._committed = False
        self._py4j_paused = False

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = {"name": name, "start": time.perf_counter(), "end": None,
              "parent": parent["id"] if parent else None, "op": self._op, "id": len(self.spans)}
        self.spans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """Span around a block of the benchmark's own code."""
        if not self.enabled or self._op is None:
            yield
            return
        sp = self._open(name)
        try:
            yield
        finally:
            self._close(sp)

    # -- installation ----------------------------------------------------

    def install(self) -> None:
        """Wrap every traced function at each name that binds it and
        count py4j round trips. Only called for traced runs."""
        import py4j.clientserver as cs

        import duckdb_iceberg_spark  # noqa: F401  (loads the package)
        import duckdb_iceberg_spark.sources.iceberg as src
        from duckdb_iceberg_spark import writer as W

        orig_send = cs.ClientServerConnection.send_command
        tracer = self

        def send_command(conn, *a, **kw):
            if tracer._op is not None and not tracer._py4j_paused:
                tracer.counts["driver.py4j_calls"] += 1
            return orig_send(conn, *a, **kw)

        setattr(cs.ClientServerConnection, "send_command", send_command)

        for (mod_name, attr), span_name in PLAN_FUNCS.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
            fn = getattr(mod, attr, None)
            if fn is None:
                continue
            wrapped = self._wrap(fn, span_name)
            for m in [m for k, m in list(sys.modules.items()) if k.startswith("duckdb_iceberg_spark")]:
                for k, v in list(vars(m).items()):
                    if v is fn:
                        setattr(m, k, wrapped)

        for attr in PRUNE_FUNCS:
            fn = getattr(src, attr, None)
            if fn is not None:
                setattr(src, attr, self._wrap_prune(fn))

        for meth, span_name in WRITER_METHODS.items():
            fn = W.IcebergTable.__dict__.get(meth)
            if fn is None:
                continue
            if isinstance(fn, classmethod):
                setattr(W.IcebergTable, meth, classmethod(self._wrap_commit(fn.__func__, span_name)))
            else:
                setattr(W.IcebergTable, meth, self._wrap_commit(fn, span_name))

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer._op is None:
                return fn(*a, **kw)
            sp = tracer._open(name)
            try:
                out = fn(*a, **kw)
            finally:
                tracer._close(sp)
            if name == "plans.table_scan":
                tracer.counts["plans.scan_cache_calls"] += 1
                tracer.counts["plans.manifests_scanned"] += len(out.manifests)
                if not any(s["parent"] == sp["id"] and s["name"] == "plans.avro_read" for s in tracer.spans[sp["id"]:]):
                    tracer.counts["plans.scan_cache_hits"] += 1
                tracer._local.listed = len(out.data_files())
            elif name == "sources.scan_build" and fn.__name__ == "iceberg_scan":
                tracer.counts["sources.files_listed"] += getattr(tracer._local, "listed", 0)
                tracer._local.listed = 0
            return out

        return wrapper

    def _wrap_prune(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(meta, entries, *a, **kw):
            out = fn(meta, entries, *a, **kw)
            if tracer._op is not None:
                tracer.counts["sources.files_skipped"] += len(entries) - len(out)
            return out

        return wrapper

    def _wrap_commit(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer._op is None:
                return fn(*a, **kw)
            group = f"{tracer._group}-commit"
            tracer._set_group(group)
            meta_dir = None
            self_obj = a[0] if a and not isinstance(a[0], type) else None
            if self_obj is not None:
                meta_dir = self_obj.path + "/metadata"
            before = _dir_bytes(meta_dir)
            sp = tracer._open(name)
            try:
                out = fn(*a, **kw)
            finally:
                tracer._close(sp)
                tracer._set_group(tracer._group)
            tracer.samples[name].append((sp["end"] - sp["start"]) * 1000.0)
            tracer.samples["writer.metadata_bytes"].append(_dir_bytes(meta_dir) - before)
            tracer._committed = True
            return out

        return wrapper

    # -- ops -------------------------------------------------------------

    def begin_op(self, op_id: int) -> None:
        if not self.enabled:
            return
        self._op = op_id
        self._group = f"bench-op-{op_id}"
        self._dfs = []
        self._committed = False
        self._set_group(self._group)
        self._opspan = self._open("op")

    def end_op(self) -> None:
        if not self.enabled or self._op is None:
            return
        self._close(self._opspan)
        self._op = None
        self.traced_ops += 1
        self._py4j_paused = True
        try:
            self._collect_spark(self._group)
        finally:
            self._py4j_paused = False

    def note_action(self, df) -> None:
        """Remember a drained DataFrame; its plan metrics are read after
        the op."""
        if self.enabled and self._op is not None:
            self._dfs.append(df)

    def _set_group(self, group: str) -> None:
        self._py4j_paused = True
        try:
            self.spark.sparkContext.setJobGroup(group, group)
        finally:
            self._py4j_paused = False

    def _jobs(self, group: str):
        self._py4j_paused = True
        try:
            st = self.spark.sparkContext.statusTracker()
            jobs = list(st.getJobIdsForGroup(group))
            stages = []
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
            tasks = 0
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
            return jobs, stages, tasks
        finally:
            self._py4j_paused = False

    def _collect_spark(self, group: str) -> None:
        for g in (group, f"{group}-commit"):
            jobs, stages, tasks = self._jobs(g)
            self.counts["sched.jobs"] += len(jobs)
            self.counts["sched.stages"] += len(stages)
            self.counts["sched.tasks"] += tasks
        if self._committed:
            self.samples["writer.jobs"].append(len(jobs))
        for df in self._dfs:
            qe = df._jdf.queryExecution()
            for phase, a, b in _PHASE_RE.findall(qe.tracker().phases().toString()):
                self.counts[f"catalyst.{phase}_ms"] += int(b) - int(a)
            for key, val in _plan_metrics(qe.executedPlan()):
                name = SQL_METRICS.get(key)
                if name == "exec.peak_memory_bytes":
                    self.counts[name] = max(self.counts[name], val)
                elif name is not None:
                    self.counts[name] += val
        self._dfs = []

    # -- reporting -------------------------------------------------------

    def layer_metrics(self) -> dict:
        """Per-op means of each layer's self time and counters."""
        ops = max(self.traced_ops, 1)
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append(s)
        self_ms = defaultdict(float)
        busy_ms = defaultdict(float)
        op_ms = uncovered = 0.0
        for s in self.spans:
            if s["end"] is None:
                continue
            kids = [(c["start"], c["end"]) for c in children[s["id"]]]
            dur = (s["end"] - s["start"]) * 1000.0
            covered = _union_ms(kids, s["start"], s["end"])
            if s["name"] == "op":
                op_ms += dur
                uncovered += dur - covered
                continue
            self_ms[s["name"]] += dur - covered
            busy_ms[s["name"]] += dur
        c = self.counts

        def per_op(x):
            return x / ops

        def median(xs):
            return statistics.median(xs) if xs else 0.0

        calls = c["plans.scan_cache_calls"]
        listed = c["sources.files_listed"]
        commits = sum(len(self.samples[k]) for k in ("writer.append", "writer.delete", "writer.merge"))
        out = {
            "plans.load_metadata_ms": per_op(self_ms["plans.load_metadata"]),
            "plans.table_scan_ms": per_op(self_ms["plans.table_scan"]),
            "plans.avro_read_ms": per_op(busy_ms["plans.avro_read"]),
            "plans.avro_files_read": per_op(sum(1 for s in self.spans if s["name"] == "plans.avro_read")),
            "plans.manifests_per_scan": c["plans.manifests_scanned"] / calls if calls else 0.0,
            "plans.scan_cache_hit_ratio": c["plans.scan_cache_hits"] / calls if calls else 0.0,
            "plans.scan_cache_calls": per_op(calls),
            "plans.avro_write_ms": per_op(busy_ms["plans.avro_write"]),
            "plans.avro_files_written": per_op(sum(1 for s in self.spans if s["name"] == "plans.avro_write")),
            "sources.scan_build_ms": per_op(self_ms["sources.scan_build"]),
            "sources.files_listed": per_op(listed),
            "sources.file_skip_ratio": c["sources.files_skipped"] / listed if listed else 0.0,
            "writer.append_ms": median(self.samples["writer.append"]),
            "writer.delete_ms": median(self.samples["writer.delete"]),
            "writer.merge_ms": median(self.samples["writer.merge"]),
            "writer.self_ms": per_op(sum(self_ms[k] for k in ("writer.append", "writer.delete", "writer.merge", "writer.create"))),
            "writer.jobs_per_commit": sum(self.samples["writer.jobs"]) / commits if commits else 0.0,
            "writer.metadata_bytes_per_commit": sum(self.samples["writer.metadata_bytes"]) / commits if commits else 0.0,
            "operators.build_ms": per_op(self_ms["operators.build"]),
            "driver.construct_ms": per_op(self_ms["driver.construct"]),
            "driver.py4j_calls": per_op(c["driver.py4j_calls"]),
            "driver.action_ms": per_op(self_ms["driver.action"]),
            "catalyst.analysis_ms": per_op(c["catalyst.analysis_ms"]),
            "catalyst.optimization_ms": per_op(c["catalyst.optimization_ms"]),
            "catalyst.planning_ms": per_op(c["catalyst.planning_ms"]),
            "sched.jobs": per_op(c["sched.jobs"]),
            "sched.stages": per_op(c["sched.stages"]),
            "sched.tasks": per_op(c["sched.tasks"]),
            "exec.files_read": per_op(c["exec.files_read"]),
            "exec.bytes_read": per_op(c["exec.bytes_read"]),
            "exec.shuffle_bytes_written": per_op(c["exec.shuffle_bytes_written"]),
            "exec.spill_bytes": per_op(c["exec.spill_bytes"]),
            "exec.peak_memory_bytes": c["exec.peak_memory_bytes"],
            "pyworker.boot_ms": per_op(c["pyworker.boot_ms"]),
            "pyworker.init_ms": per_op(c["pyworker.init_ms"]),
            "pyworker.total_ms": per_op(c["pyworker.total_ms"]),
            "pyworker.bytes_sent": per_op(c["pyworker.bytes_sent"]),
            "pyworker.bytes_received": per_op(c["pyworker.bytes_received"]),
            "trace.op_ms": per_op(op_ms),
            "trace.uncovered_ratio": uncovered / op_ms if op_ms else 0.0,
            "trace.spans": float(len(self.spans)),
        }
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _dir_bytes(path) -> int:
    import os

    if path is None or not os.path.isdir(path):
        return 0
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


def _plan_metrics(plan):
    """(key, value) of every SQL metric in an executed plan, descending
    through adaptive plans and query stages. One py4j call per node for
    the metrics map, a few more to walk its children."""
    out = []
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        for key, val in _METRIC_RE.findall(node.metrics().toString()):
            out.append((key, int(val)))
        kids = node.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return out
