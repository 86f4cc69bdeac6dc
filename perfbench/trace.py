"""Spans and per-layer work counters, recorded from outside the engine.

A span wraps one call into a layer: name, layer, start, end, parent span
and a trace id (one per tick or query). Spans live in memory and are
written out when the run ends. While a span is open its Spark jobs run
under a job group of their own; on exit the span reads that group's jobs
from ``SparkContext.statusTracker()``, the stages' task, CPU, shuffle and
output figures from the driver's ``/api/v1`` status endpoint, and counts
operators in the executed plans of the SQL executions those jobs belong
to. A disabled tracer records nothing and sets no job group.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Work counters every layer reports.
WORK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "cpu_s", "output_bytes")
# Executed-plan operator counters.
PLAN_COUNTERS = ("exchanges", "smj", "bhj", "python_execs")

_PYTHON_EXEC = re.compile(r"(InPandas|InArrow|EvalPython|Python)")
_NODE_COUNTER = {"Exchange": "exchanges", "SortMergeJoin": "smj",
                 "BroadcastHashJoin": "bhj"}


@dataclass
class Span:
    span_id: int
    parent: int | None
    trace_id: str
    layer: str
    name: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent collecting counters
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()
        if enabled:
            self._tracker = self._sc.statusTracker()
            self._api = (f"{self._sc.uiWebUrl}/api/v1/applications/"
                         f"{self._sc.applicationId}")
            self._sql_seen = len(self._get("sql?details=false&length=100000"))
            self._sql_done: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    @contextmanager
    def span(self, layer: str, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.span_id if parent else None,
                  trace_id or (parent.trace_id if parent else name),
                  layer, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp.span_id}"
        self._sc.setJobGroup(group, f"{layer}:{name}", False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent.span_id}",
                                     f"{parent.layer}:{parent.name}", False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._collect(sp, group)

    def _collect(self, sp: Span, group: str) -> None:
        t0 = time.perf_counter()
        # the status store is fed by the listener bus: drain it first
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(self._tracker.getJobIdsForGroup(group))
        c = sp.counters
        c["jobs"] += len(jobs)
        stage_ids = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            for att in self._get(f"stages/{sid}?details=false"):
                if att["status"] == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                c["cpu_s"] += att["executorCpuTime"] / 1e9
                c["shuffle_bytes"] += att["shuffleWriteBytes"]
                c["output_bytes"] += att["outputBytes"]
        new = self._get(f"sql?details=true&planDescription=false"
                        f"&offset={self._sql_seen}&length=100000")
        for ex in new:
            ex_jobs = set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                          + ex.get("runningJobIds", []))
            if ex["id"] in self._sql_done or (ex_jobs and not ex_jobs & jobs):
                continue  # counted already, or another span's execution
            self._sql_done.add(ex["id"])
            for node in ex["nodes"]:
                name = node["nodeName"]
                if name in _NODE_COUNTER:
                    c[_NODE_COUNTER[name]] += 1
                elif _PYTHON_EXEC.search(name):
                    c["python_execs"] += 1
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        c[f"rows:{name}"] += _num(m["value"])
        # execution ids are list offsets: skip the prefix fully counted
        while self._sql_seen in self._sql_done:
            self._sql_done.discard(self._sql_seen)
            self._sql_seen += 1
        self.overhead_s += time.perf_counter() - t0

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(ch.duration for ch in self.spans
                                 if ch.parent == sp.span_id)

    def by_layer(self) -> dict[str, dict[str, float]]:
        """Per-layer sums: ``s`` (span self time), work and plan counters,
        and ``<name>_s`` / ``jobs_<name>`` for named child spans."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            agg = out[sp.layer]
            agg["s"] += self.self_time(sp)
            for k, v in sp.counters.items():
                agg[k] += v
            if sp.parent is not None and self.spans[sp.parent].layer == sp.layer:
                agg[f"{sp.name}_s"] += sp.duration
                agg[f"jobs_{sp.name}"] += sp.counters.get("jobs", 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"id": s.span_id, "parent": s.parent, "trace": s.trace_id,
                        "layer": s.layer, "name": s.name,
                        "start": s.start - self._t0, "end": s.end - self._t0,
                        "counters": dict(s.counters)} for s in self.spans], f)


def _num(text: str) -> float:
    """Parse a status-API metric value such as ``'1,234'``."""
    try:
        return float(str(text).replace(",", "").split()[0])
    except (ValueError, IndexError):
        return 0.0
