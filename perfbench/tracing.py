"""Spans around the benchmark's calls into each layer, with Spark's own
counts attached.

A span holds its name, layer, start, end, parent span and trace id (every
span of one query or one request shares the trace id). While a span is
open its id is the Spark job group, so every job, stage and task Spark
runs is attributed to the innermost open span. SQL executions are read
from the SQL status store after draining the listener bus, the same
pattern ``plans.broadcast_build_rows`` uses, and are given to the span
that was innermost while they ran.

With tracing off, ``Tracer.span`` is a bare context manager that records
nothing and sets no job group, so untraced runs pay nothing for it.
Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

# Physical operators that run Python workers; their "number of output
# rows" is the row count that came back from Python.
_PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "AggregateInPandas", "WindowInPandas",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_s", "scan_rows",
    "scan_bytes", "shuffle_write_bytes", "spill_bytes", "broadcast_rows",
    "python_rows", "sql_executions",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    round: int = -1
    attrs: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.round = -1
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._t0 = time.perf_counter()
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._bus = sc._jsc.sc().listenerBus()
            self._app_store = sc._jsc.sc().statusStore()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._status = sc.statusTracker()
            self._sql_seen = self._max_execution_id()

    # -- public ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        self._claim_executions()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=next(self._ids),
            name=name,
            layer=name.rsplit(".", 1)[0],
            trace=trace or (parent.trace if parent else name),
            parent=parent.id if parent else None,
            start=time.perf_counter() - self._t0,
            round=self.round,
            attrs=attrs,
            counts=dict.fromkeys(COUNTERS, 0),
        )
        self._stack.append(sp)
        self._sc.setJobGroup(self._group(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._t0
            self._claim_executions()
            self._stack.pop()
            self._add_job_counts(sp)
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def add(self, sp: Span | None, **values) -> None:
        """Attach values the caller measured (e.g. files on disk)."""
        if sp is not None:
            sp.attrs.update(values)

    def write(self, path: str, meta: dict) -> None:
        spans = sorted(self.spans, key=lambda s: s.id)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": [asdict(s) for s in spans]}, f)

    # -- Spark counters ---------------------------------------------------------

    @staticmethod
    def _group(sp: Span) -> str:
        return f"perfbench-span-{sp.id}"

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _max_execution_id(self) -> int:
        self._drain()
        execs = self._sql_store.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def _claim_executions(self) -> None:
        """Give every SQL execution finished since the last boundary to
        the span that is innermost now."""
        self._drain()
        execs = self._sql_store.executionsList()  # ascending execution id
        owner = self._stack[-1] if self._stack else None
        newest = self._sql_seen
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= self._sql_seen:
                break
            newest = max(newest, eid)
            if owner is None:
                continue
            owner.counts["sql_executions"] += 1
            mvals = self._sql_store.executionMetrics(eid)
            nodes = self._sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                if name == "BroadcastExchange":
                    key = "broadcast_rows"
                elif name in _PYTHON_NODES:
                    key = "python_rows"
                else:
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() == "number of output rows":
                        v = mvals.get(m.accumulatorId())
                        if v.isDefined():
                            owner.counts[key] += int(str(v.get()).replace(",", ""))
        self._sql_seen = newest

    def _add_job_counts(self, sp: Span) -> None:
        c = sp.counts
        stages: set[int] = set()
        for jid in self._status.getJobIdsForGroup(self._group(sp)):
            info = self._status.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            try:
                sd = self._app_store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: count what is known
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["task_s"] += sd.executorRunTime() / 1000.0
            c["scan_rows"] += sd.inputRecords()
            c["scan_bytes"] += sd.inputBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning milliseconds of ``df``'s own
    query execution, read from its ``QueryPlanningTracker`` after forcing
    ``executedPlan``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out
