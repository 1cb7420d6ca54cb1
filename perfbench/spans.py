"""Spans around calls into the engine's layers, plus Spark's own accounting.

A span records name, start, end, its parent span and the request (trace) it
belongs to. While tracing is on, every span also tags the Spark jobs it
launches with its own job group, so stage and SQL-operator metrics read from
Spark's status stores afterwards can be charged to the span that caused
them. With tracing off, ``span`` costs one attribute check and records
nothing.

Spark sources (all in-process, ``spark.ui.enabled=false`` is fine):

* ``SparkContext.statusTracker().getJobIdsForGroup`` — jobs per span;
* ``sc._jsc.sc().statusStore()`` — job submission times and per-stage
  executor run/CPU/GC time, input, shuffle and spill bytes;
* ``spark._jsparkSession.sharedState().statusStore()`` — SQL executions,
  their plan graph and per-operator metrics.
"""

from __future__ import annotations

import itertools
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas", "MapInArrow", "PythonUDTF")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    name: str
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans (and tags Spark jobs) only when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, parent.id if parent else None,
                  parent.trace if parent else sid, name, time.time(),
                  group=f"perfbench-{sid}", attrs=attrs)
        stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0.0) + value


def wrap(tracer: Tracer, name: str, fn):
    """``fn`` with every call recorded as a span called ``name``."""
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapped


def wrap_everywhere(tracer: Tracer, name: str, module, attr: str, package: str) -> int:
    """Replace the function ``module.attr`` by ``wrap(tracer, name, ...)``
    in ``module`` and in every loaded module of ``package`` that bound the
    same function with ``from module import attr`` (such a binding is its
    own reference, which patching ``module`` alone would miss). Modules
    imported later, and imports inside functions, get the wrapper through
    ``module``. Returns the number of bindings replaced."""
    fn = getattr(module, attr)
    wrapped = wrap(tracer, name, fn)
    replaced = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        if mod.__dict__.get(attr) is fn:
            setattr(mod, attr, wrapped)
            replaced += 1
    return replaced


def _parse_metric(text: str) -> float:
    """Numeric value of one SQL metric as the status store formats it:
    a plain count ("1,234"), or for timing and size metrics a
    "total (min, med, max ...)" header and the total on the next line
    ("1.2 s (...)", "3.4 MiB (...)"). Times come back in seconds, sizes in
    bytes."""
    if text is None:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _UNIT_S:
        return v * _UNIT_S[unit]
    if unit in _UNIT_B:
        return v * _UNIT_B[unit]
    return v


def _opt_ms(opt) -> float | None:
    """epoch ms of a Scala ``Option[java.util.Date]``, or None."""
    return float(opt.get().getTime()) if opt.isDefined() else None


@dataclass
class JobStats:
    id: int
    submitted: float
    completed: float
    first_task: float | None
    stages: dict


@dataclass
class SparkAccount:
    """Everything Spark recorded, keyed so spans can claim their share."""
    jobs_by_group: dict
    jobs: dict
    stages: dict
    execs: list  # (job ids, duration s, [(node name, {metric: value})])


STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


def read_spark(spark, groups: list[str]) -> SparkAccount:
    """Pull job, stage and SQL-operator metrics for the given job groups
    out of Spark's status stores (one pass; call after the work ended)."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_list = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    stages: dict[int, dict] = {}
    for i in range(stage_list.size()):
        s = stage_list.apply(i)
        agg = stages.setdefault(s.stageId(), {f: 0.0 for f in STAGE_FIELDS} | {"first": None})
        for f in STAGE_FIELDS:
            agg[f] += float(getattr(s, f)())
        ft = _opt_ms(s.firstTaskLaunchedTime())
        if ft is not None and (agg["first"] is None or ft < agg["first"]):
            agg["first"] = ft
    jobs_by_group = {g: list(tracker.getJobIdsForGroup(g)) for g in groups}
    jobs: dict[int, JobStats] = {}
    for ids in jobs_by_group.values():
        for j in ids:
            jd = store.job(j)
            sids = [int(x) for x in _seq(jd.stageIds())]
            firsts = [stages[s]["first"] for s in sids if s in stages and stages[s]["first"]]
            sub = _opt_ms(jd.submissionTime())
            done = _opt_ms(jd.completionTime())
            jobs[j] = JobStats(j, (sub or 0.0) / 1e3, (done or sub or 0.0) / 1e3,
                               min(firsts) / 1e3 if firsts else None,
                               {s: stages[s] for s in sids if s in stages})
    sql = spark._jsparkSession.sharedState().statusStore()
    ex_list = sql.executionsList()
    execs = []
    wanted = set(jobs)
    for i in range(ex_list.size()):
        e = ex_list.apply(i)
        ex_jobs = {int(k) for k in _seq(e.jobs().keys())}
        if not ex_jobs & wanted:
            continue
        values = sql.executionMetrics(e.executionId())
        graph = sql.planGraph(e.executionId())
        nodes = []
        all_nodes = graph.allNodes()
        for k in range(all_nodes.size()):
            n = all_nodes.apply(k)
            ms = n.metrics()
            metrics = {}
            for q in range(ms.size()):
                m = ms.apply(q)
                v = values.get(m.accumulatorId())
                metrics[m.name()] = _parse_metric(v.get() if v.isDefined() else None)
            nodes.append((n.name(), metrics))
        done = _opt_ms(e.completionTime())
        duration = (done - e.submissionTime()) / 1e3 if done is not None else 0.0
        execs.append((ex_jobs, duration, nodes))
    return SparkAccount(jobs_by_group, jobs, stages, execs)


def _seq(scala_iterable) -> list:
    it = scala_iterable.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
