"""Spans around the benchmark's calls into the engine, and the numbers
Spark itself keeps about the work those calls started.

A span is one request (``request``), one public call in it (``call``)
or one action on a call's result (``action``). In a traced run every
span runs under its own Spark job group, so the jobs it started can be
found afterwards in the app status store, and the SQL status store gives the plan-node metrics of
their executions (Python-worker time and bytes, shuffle bytes, rows).
Spans live in memory; ``Tracer.dump`` writes them out once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import asdict, dataclass, field

_UNITS = {
    "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
# the plan-node metrics the benchmark reads
NODE_METRICS = frozenset({
    "time to run Python workers", "data sent to Python workers",
    "data returned from Python workers", "shuffle bytes written",
    "number of output rows",
})
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: ms for times, bytes
    for sizes, a plain count otherwise. Multi-task metrics read
    ``"total (min, med, max ...)\\n<total> (...)"``; the total is used."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        raise ValueError(f"unparsable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    name: str
    kind: str  # "request", "call" or "action"
    request: int
    parent: str | None
    group: str  # the Spark job group the span's jobs ran under
    start: float  # epoch seconds
    end: float = 0.0
    jobs: list = field(default_factory=list)


@dataclass
class _Job:
    start_ms: int
    end_ms: int
    tasks: int
    failed_tasks: int


class NullTracer:
    """Untraced runs: spans cost one ``with`` statement and record nothing."""

    enabled = False

    def span(self, name: str, kind: str, request: int):
        return contextlib.nullcontext()


class Tracer:
    """Records spans and reads Spark's own metrics for the jobs under them."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._seq = 0
        self._app_store = self.sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self._sql_store.executionsCount()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    @contextlib.contextmanager
    def span(self, name: str, kind: str, request: int):
        parent = self._open[-1] if self._open else None
        self._seq += 1
        s = Span(name, kind, request, parent and f"{parent.name}.{parent.kind}",
                 f"perfbench-{self._seq}", time.time())
        self.sc.setJobGroup(s.group, f"{name}.{kind}")
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(s.group))
            if parent:
                self.sc.setJobGroup(parent.group, f"{parent.name}.{parent.kind}")
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(s)

    # -- Spark-side readings ------------------------------------------------

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def job(self, job_id: int) -> _Job:
        data = self._app_store.job(job_id)
        end = data.completionTime()
        return _Job(
            data.submissionTime().get().getTime(),
            end.get().getTime() if end.isDefined() else int(time.time() * 1e3),
            data.numCompletedTasks(),
            data.numFailedTasks(),
        )

    def new_executions(self) -> list[dict]:
        """Plan-node metrics of every SQL execution finished since the
        last call: ``[{"jobs": {...}, "nodes": [(name, {metric: value})]}]``."""
        total = self._sql_store.executionsCount()
        if total == self._sql_seen:
            return []
        rows = self._sql_store.executionsList(self._sql_seen, total - self._sql_seen)
        self._sql_seen = total
        out = []
        for i in range(rows.size()):
            ex = rows.apply(i)
            eid = ex.executionId()
            values = self._sql_store.executionMetrics(eid)
            nodes = []
            graph = self._sql_store.planGraph(eid).allNodes()
            for j in range(graph.size()):
                node = graph.apply(j)
                metrics = node.metrics()
                vals = {}
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    name = m.name()
                    if name in NODE_METRICS:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            vals[name] = parse_metric(v.get())
                nodes.append((node.name(), vals))
            out.append({"jobs": _job_ids(ex), "nodes": nodes})
        return out

    @staticmethod
    def analysis_ms(df) -> float:
        phase = df._jdf.queryExecution().tracker().phases().get("analysis")
        return float(phase.get().durationMs()) if phase.isDefined() else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _job_ids(execution) -> set:
    it = execution.jobs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids
