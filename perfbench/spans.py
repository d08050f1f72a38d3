"""Benchmark-side spans and the Spark event-log reader behind the
per-layer table.

The program is not instrumented. In a traced run the benchmark wraps each
public call it makes in a :class:`Span` (name, wall start/end, parent) and
turns on Spark's event log. After the run, :func:`load_event_log` reads the
log and :class:`Attribution` joins the two:

* a job belongs to the innermost span whose wall interval contains its
  submission time, which also covers jobs the program submits from its own
  threads;
* a stage belongs to a module function through the Python call site in its
  name (``collect at .../index/bm25.py:<line>``); the line is resolved to
  its enclosing function by parsing the source, never by line tables;
* Python-kernel counters (bytes to/from Python, Python run time) are read
  from the accumulators of the plan nodes that run the kernel
  (``MapInPandas``, ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInPandas``),
  named by the kernel function in the node's description.
"""

from __future__ import annotations

import ast
import json
import os
import re
import time
from dataclasses import dataclass, field

PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: "Span | None" = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Span recorder kept in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, obj, method: str) -> None:
        """Record a span around every call of ``obj.method`` (instance
        attribute; the class is untouched)."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        def wrapped(*a, **kw):
            with self.span(method) as sp:
                out = fn(*a, **kw)
                if isinstance(out, dict) and method == "fetch_blocks":
                    sp.attrs["blocks"] = sum(len(v) for v in out.values())
                return out

        setattr(obj, method, wrapped)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs
        self.sp: Span | None = None

    def __enter__(self) -> Span:
        parent = self.t._stack[-1] if self.t._stack else None
        self.sp = Span(self.name, time.time() * 1000.0, parent=parent,
                       attrs=dict(self.attrs))
        if self.t.enabled:
            self.t._stack.append(self.sp)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.sp.end_ms = time.time() * 1000.0
        if self.t.enabled:
            self.t._stack.pop()
            self.t.spans.append(self.sp)


# -- event log ---------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float = 0.0
    stage_ids: list = field(default_factory=list)
    span: Span | None = None


@dataclass
class Stage:
    stage_id: int
    name: str
    submit_ms: float
    end_ms: float
    tasks: int
    acc: dict  # accumulator name -> summed value
    acc_by_id: dict  # accumulator id -> value
    func: str = ""


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def load_event_log(log_dir: str) -> tuple[dict, dict, dict, list]:
    """Jobs, stages, Python plan-node accumulator ids and driver-side
    metric updates from every event file under ``log_dir``. The node map
    is ``{acc_id: (kind, kernel, metric_key)}``; driver updates are
    ``(execution start ms, metric name, value)``."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith((".", "appstatus")) and not f.endswith(".crc"))
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    py_acc: dict[int, tuple] = {}
    names: dict[int, str] = {}
    exec_ms: dict[int, float] = {}
    driver: list[tuple[int, int, float]] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(ev["Job ID"],
                                             _num(ev["Submission Time"]),
                                             stage_ids=list(ev["Stage IDs"]))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = _num(ev["Completion Time"])
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc, by_id = {}, {}
                    for a in si.get("Accumulables", []):
                        v = _num(a.get("Value"))
                        acc[a["Name"]] = acc.get(a["Name"], 0.0) + v
                        by_id[a["ID"]] = v
                    stages[si["Stage ID"]] = Stage(
                        si["Stage ID"], si["Stage Name"],
                        _num(si.get("Submission Time")),
                        _num(si.get("Completion Time")),
                        int(si.get("Number of Tasks", 0)), acc, by_id)
                elif kind.endswith(("SQLExecutionStart",
                                    "SQLAdaptiveExecutionUpdate")):
                    _walk_plan(ev["sparkPlanInfo"], py_acc, names)
                    if "time" in ev:
                        exec_ms[ev["executionId"]] = _num(ev["time"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, v in ev.get("accumUpdates", []):
                        driver.append((ev["executionId"], acc_id, _num(v)))
    driver_acc = [(exec_ms.get(e, 0.0), names.get(a, ""), v)
                  for e, a, v in driver]
    return jobs, stages, py_acc, driver_acc


_KERNEL_RE = re.compile(r"^\S+\s+([^\s(]+)\(")


def _walk_plan(node: dict, py_acc: dict, names: dict) -> None:
    name = node.get("nodeName", "")
    for met in node.get("metrics", []):
        names[met["accumulatorId"]] = met["name"]
    if name in PY_NODES:
        m = _KERNEL_RE.match(node.get("simpleString", ""))
        kernel = m.group(1) if m else "?"
        for met in node.get("metrics", []):
            key = PY_METRICS.get(met["name"])
            if key:
                py_acc[met["accumulatorId"]] = (name, kernel, key)
    for child in node.get("children", []):
        _walk_plan(child, py_acc, names)


class _FuncResolver:
    """``file:line`` → enclosing ``module.Class.func`` by parsing source."""

    def __init__(self):
        self._cache: dict[str, list] = {}

    def _defs(self, path: str) -> list:
        if path not in self._cache:
            out = []
            try:
                with open(path) as fh:
                    tree = ast.parse(fh.read())
            except (OSError, SyntaxError):
                tree = None

            def visit(node, prefix):
                for ch in ast.iter_child_nodes(node):
                    if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.ClassDef)):
                        q = f"{prefix}.{ch.name}" if prefix else ch.name
                        out.append((ch.lineno, ch.end_lineno, q))
                        visit(ch, q)
                    else:
                        visit(ch, prefix)

            if tree is not None:
                visit(tree, "")
            self._cache[path] = out
        return self._cache[path]

    def resolve(self, stage_name: str) -> str:
        m = re.search(r" at (\S+\.py):(\d+)", stage_name)
        if not m:
            return ""
        path, line = m.group(1), int(m.group(2))
        best = ""
        best_span = None
        for lo, hi, q in self._defs(path):
            if lo <= line <= (hi or lo) and (
                    best_span is None or hi - lo < best_span):
                best, best_span = q, hi - lo
        mod = os.path.splitext(os.path.basename(path))[0]
        return f"{mod}.{best}" if best else mod


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Attribution:
    """Jobs and stages joined to benchmark spans and program functions."""

    def __init__(self, spans: list[Span], log_dir: str):
        self.spans = spans
        self.jobs, self.stages, self.py_acc, self.driver_acc = (
            load_event_log(log_dir))
        res = _FuncResolver()
        for st in self.stages.values():
            st.func = res.resolve(st.name)
        for job in self.jobs.values():
            job.span = self._innermost(job.submit_ms)

    def _innermost(self, t: float) -> Span | None:
        best = None
        for sp in self.spans:
            if sp.start_ms <= t <= sp.end_ms and (
                    best is None or sp.wall_s < best.wall_s):
                best = sp
        return best

    def jobs_under(self, span: Span) -> list[Job]:
        """Jobs attributed to ``span`` or to any span nested in it."""
        out = []
        for job in self.jobs.values():
            sp = job.span
            while sp is not None and sp is not span:
                sp = sp.parent
            if sp is span:
                out.append(job)
        return out

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def sum_acc(self, stages: list[Stage], name: str) -> float:
        return sum(st.acc.get(name, 0.0) for st in stages)

    def py_kernel(self, stages: list[Stage], kernels: tuple[str, ...],
                  key: str, kinds: tuple[str, ...] = PY_NODES) -> float:
        """Sum one Python-node counter over nodes running ``kernels`` (any
        kernel when empty) of the given node kinds."""
        total = 0.0
        for st in stages:
            for acc_id, v in st.acc_by_id.items():
                info = self.py_acc.get(acc_id)
                if info and info[0] in kinds and info[2] == key and (
                        not kernels or info[1] in kernels):
                    total += v
        return total

    def has_kernel(self, st: Stage, kernels: tuple[str, ...]) -> bool:
        return any(self.py_acc.get(a, ("", ""))[1] in kernels
                   for a in st.acc_by_id)

    def driver_metric(self, span: Span, name: str) -> float:
        """Sum of a driver-side SQL metric over executions started inside
        ``span``."""
        return sum(v for t, n, v in self.driver_acc
                   if n == name and span.start_ms <= t <= span.end_ms)

    def job_wall_ms(self, jobs: list[Job]) -> float:
        return union_ms([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms])
