"""Spans and Spark engine counters for the traced run.

A span records one call into a package module: its name (``layer.call``),
start, end, parent span and trace id (the query name or the processing id).
Spans live in memory and are written out with the run record. A layer's
self time is its span's duration minus the part of that interval covered
by its child spans.

Spark work is charged to the call that launched it through a job group the
benchmark sets around the call; the group's jobs, stages, tasks, executor
time, shuffle and spill are read from the status store as soon as the call
returns, because the store keeps only the most recent jobs.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import asdict, dataclass

#: plan nodes that run Python code on the executors (pandas/Arrow UDFs,
#: mapInPandas/applyInPandas, RDD mapPartitions)
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonRDD",
    "PythonMapInArrow",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(s.start, s.end, children.get(s.span_id, []))
        for s in spans
    }


class Tracer:
    """Thread-aware span recorder: each thread keeps its own parent stack."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, trace_id: str | None = None) -> "_SpanCtx":
        """A span around the ``with`` body; without ``trace_id`` it joins
        the enclosing span's trace."""
        return _SpanCtx(self, name, trace_id)

    def wrap(self, name: str, fn):
        """``fn`` recording a span per call, in the caller's trace."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def export(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace_id: str | None):
        self.tracer, self.name, self.trace_id = tracer, name, trace_id

    def __enter__(self) -> "_SpanCtx":
        stack = self.tracer._stack()
        self.parent = stack[-1][0] if stack else None
        if self.trace_id is None:
            self.trace_id = stack[-1][1] if stack else "-"
        self.span_id = next(self.tracer._ids)
        stack.append((self.span_id, self.trace_id))
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.tracer._stack().pop()
        span = Span(self.name, self.start, end, self.span_id, self.parent, self.trace_id)
        with self.tracer._lock:
            self.tracer.spans.append(span)


# --- Spark status-store accounting -----------------------------------------


#: Spark engine counters read per job group
ENGINE_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_stages",
)


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of every job in ``group``."""
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(ENGINE_KEYS, 0)
    job_ids = list(tracker.getJobIdsForGroup(group))
    out["jobs"] = len(job_ids)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info.isDefined():
            stage_ids.update(int(s) for s in info.get().stageIds())
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if _runs_python(store, sid):
            out["python_stages"] += 1
    return out


def _runs_python(store, sid: int) -> bool:
    """Whether the stage's operator graph has a Python-evaluating node."""
    graph = store.operationGraphForStage(sid)
    clusters = [graph.rootCluster()] if graph is not None else []
    while clusters:
        c = clusters.pop()
        nodes, children = c.childNodes(), c.childClusters()
        names = [c.name()] + [nodes.apply(i).name() for i in range(nodes.size())]
        if any(n.split(" ")[0] in PYTHON_NODES for n in names):
            return True
        clusters.extend(children.apply(i) for i in range(children.size()))
    return False


class JobGroup:
    """Sets a Spark job group on the calling thread for the ``with`` body."""

    def __init__(self, spark, group: str):
        self.sc, self.group = spark.sparkContext, group

    def __enter__(self) -> "JobGroup":
        self.sc.setJobGroup(self.group, self.group, interruptOnCancel=False)
        return self

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1e3


def jvm_code_cache_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = sum(
        p.getUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if "code" in p.getName().lower()
    )
    return used / 2**20
