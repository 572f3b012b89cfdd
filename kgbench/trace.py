"""Spans around the engine's module functions, and the Spark event log
read back into per-span job costs.

A layer is a module of ``hbase_rdf_spark``. :func:`install` replaces every
public function (and public method of a class) defined in a traced
module with a wrapper that records a span: name, layer, start, end,
thread and parent. Whenever the layer changes on the way down, the
wrapper also sets the Spark job group of the calling thread to the span
id, so each Spark job the event log records names the span whose layer
submitted it. Spark runs lazily: a job belongs to the span whose action
ran it, not to the span that built its plan.

Threads the engine starts itself (index writes run on a thread pool,
the HTTP server answers on its own threads) begin with an empty stack.
Their spans take as parent the innermost open span of the benchmark's
main thread, and a job that carries no live group id is charged to that
same innermost span at its submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

# module → layer name; plans/* together form the query layer
LAYERS = {
    "hbase_rdf_spark.operators.extraction": "extraction",
    "hbase_rdf_spark.operators.linking": "linking",
    "hbase_rdf_spark.operators.cc": "cc",
    "hbase_rdf_spark.functions.encoding": "encoding",
    "hbase_rdf_spark.operators.materialize": "materialize",
    "hbase_rdf_spark.functions.lineage": "lineage",
    "hbase_rdf_spark.sources.ntriples": "ntriples",
    "hbase_rdf_spark.streaming.incremental": "incremental",
    "hbase_rdf_spark.plans.sparql": "sparql",
    "hbase_rdf_spark.plans.bgp": "sparql",
    "hbase_rdf_spark.plans.patterns": "sparql",
    "hbase_rdf_spark.plans.filters": "sparql",
    "hbase_rdf_spark.service": "service",
    "hbase_rdf_spark.pipeline": "pipeline",
    "hbase_rdf_spark.engine": "engine",
}
# private methods that are the entry point of their layer
EXTRA_METHODS = {("hbase_rdf_spark.service", "SparqlService", "_handle")}
GROUP_KEY = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "thread",
                 "group", "jobs")

    def __init__(self, sid, name, layer, parent, thread, group):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.thread, self.group = parent, thread, group
        self.start = time.time()
        self.end = None
        self.jobs: list[dict] = []


class Tracer:
    """Records spans in memory; ``overhead_s`` is the time spent in the
    tracer's own bookkeeping, Spark property calls included."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, gid: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, gid)

    def enter(self, name: str, layer: str) -> Span:
        t0 = time.perf_counter()
        st = self._stack()
        try:  # the main thread's stack may change under another thread
            parent = st[-1] if st else self._main_stack[-1]
        except IndexError:
            parent = None
        own = not st or st[-1].layer != layer
        with self._lock:
            sid = f"kgb-{next(self._ids)}"
        sp = Span(sid, name, layer, parent, threading.get_ident(),
                  sid if own else st[-1].group)
        if own:
            self._set_group(sid)
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t0
        return sp

    def exit(self, sp: Span) -> None:
        t0 = time.perf_counter()
        sp.end = time.time()
        st = self._stack()
        st.pop()
        if sp.group == sp.id:
            self._set_group(st[-1].group if st else None)
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "bench"):
        sp = self.enter(name, layer)
        try:
            yield sp
        finally:
            self.exit(sp)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        traced.__kgbench_wrapped__ = fn
        return traced


def install(tracer: Tracer) -> None:
    """Wrap the traced modules' public callables in place. Every module
    of the package that imported a wrapped function by name gets the
    wrapper too."""
    mods = {m: importlib.import_module(m) for m in LAYERS}
    replace: dict[int, object] = {}
    for mname, mod in mods.items():
        layer = LAYERS[mname]
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj.__module__ == mname \
                    and not name.startswith("_"):
                w = tracer.wrap(obj, f"{layer}.{name}", layer)
                setattr(mod, name, w)
                replace[id(obj)] = w
            elif inspect.isclass(obj) and obj.__module__ == mname:
                for attr, fn in list(vars(obj).items()):
                    if not inspect.isfunction(fn):
                        continue
                    private = name.startswith("_") or attr.startswith("_")
                    if private and (mname, name, attr) not in EXTRA_METHODS:
                        continue
                    setattr(obj, attr, tracer.wrap(
                        fn, f"{layer}.{name}.{attr}", layer))
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("hbase_rdf_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            w = replace.get(id(obj))
            if w is not None and obj is getattr(w, "__kgbench_wrapped__"):
                setattr(mod, name, w)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed, single-file) event log into jobs with
    their summed task metrics and per-plan-node SQL metrics."""
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".crc")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    accum_node: dict[int, tuple[str, str]] = {}
    exec_jobs: dict[int, list[int]] = defaultdict(list)
    driver_accums: list[tuple[int, int, int]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = {
                        "id": e["Job ID"], "submit": e["Submission Time"] / 1000,
                        "end": None, "group": props.get(GROUP_KEY),
                        "exec": props.get("spark.sql.execution.id"),
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write": 0, "spill": 0, "bytes_written": 0,
                        "sql": defaultdict(float),
                    }
                    jobs[j["id"]] = j
                    if j["exec"] is not None:
                        exec_jobs[int(j["exec"])].append(j["id"])
                    for sid in e.get("Stage IDs", ()):
                        stage_job.setdefault(sid, j["id"])
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j["tasks"] += 1
                    j["run_s"] += m["Executor Run Time"] / 1000
                    j["cpu_s"] += m["Executor CPU Time"] / 1e9
                    j["gc_s"] += m["JVM GC Time"] / 1000
                    j["shuffle_write"] += m["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"]
                    j["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    j["bytes_written"] += m["Output Metrics"]["Bytes Written"]
                    for a in e["Task Info"].get("Accumulables", ()):
                        # SQL metrics arrive flagged internal with
                        # Metadata "sql"; other internal ones are
                        # already in Task Metrics
                        if "Update" not in a or (a.get("Internal") and
                                                 a.get("Metadata") != "sql"):
                            continue
                        try:
                            v = float(a["Update"])
                        except (TypeError, ValueError):
                            continue
                        j["sql"][a["ID"]] += v
                elif kind.endswith("SQLExecutionStart") or \
                        kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(e["sparkPlanInfo"], accum_node)
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in e.get("sqlPlanMetrics", ()):
                        accum_node.setdefault(
                            m["accumulatorId"], ("?", m["name"]))
                elif kind.endswith("DriverAccumUpdates"):
                    for aid, v in e["accumUpdates"]:
                        driver_accums.append((e["executionId"], aid, v))
    # driver-side SQL metrics (files listed by a scan) go to the
    # execution's first job
    for ex, aid, v in driver_accums:
        js = exec_jobs.get(ex)
        if js:
            jobs[min(js)]["sql"][aid] += v
    return {"jobs": sorted(jobs.values(), key=lambda j: j["submit"]),
            "accum_node": accum_node}


def attribute(tracer: Tracer, log: dict) -> None:
    """Attach each job to a span (``Span.jobs``); jobs outside every
    span (set-up and checks) are dropped."""
    by_id = {sp.id: sp for sp in tracer.spans}
    main = [sp for sp in tracer.spans if sp.thread == tracer._main.ident]
    slack = 0.01  # event-log times are whole milliseconds
    for j in log["jobs"]:
        sp = by_id.get(j["group"])
        t = j["submit"]
        if sp is None or sp.end is None or not (
                sp.start - slack <= t <= sp.end + slack):
            sp = None
            for cand in main:  # innermost main-thread span open at t
                if cand.start - slack <= t <= (cand.end or 1e18) + slack:
                    if sp is None or cand.start >= sp.start:
                        sp = cand
        if sp is not None:
            sp.jobs.append(j)


def sql_sum(jobs, accum_node, node_prefix: str, metric: str) -> float:
    total = 0.0
    for j in jobs:
        for aid, v in j["sql"].items():
            node, name = accum_node.get(aid, ("", ""))
            if name == metric and node.startswith(node_prefix):
                total += v
    return total


def _children(spans: list[Span]) -> dict[str, list[Span]]:
    kids: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent.id].append(sp)
    return kids


def union_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id → self seconds: its duration minus the union of its
    children's intervals (children may run concurrently on threads)."""
    kids = _children(spans)
    out = {}
    for sp in spans:
        end = sp.end if sp.end is not None else sp.start
        iv = [(max(c.start, sp.start), min(c.end or end, end))
              for c in kids.get(sp.id, ())]
        covered = union_seconds((a, b) for a, b in iv if b > a)
        out[sp.id] = max(0.0, end - sp.start - covered)
    return out


def subtree(root: Span, spans: list[Span]) -> list[Span]:
    """``root`` and all spans below it."""
    kids = _children(spans)
    out, todo = [], [root]
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids.get(sp.id, ()))
    return out
