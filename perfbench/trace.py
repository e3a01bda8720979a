"""Spans recorded around calls into the engine, plus Spark's own counters.

Nothing here reaches into the package: spans wrap the benchmark's calls
into each layer, and the counters come from Spark itself over py4j:

- Catalyst phase times from ``queryExecution().tracker().phases()``;
- plan features and SQL metrics from walking ``executedPlan`` through
  ``AdaptiveSparkPlanExec.finalPhysicalPlan`` and its query stages;
- job, stage and task counts from ``statusTracker`` per job group;
- GC time from the driver JVM's GC beans (local mode runs every task in
  that JVM);
- storage held by cached blocks from ``getRDDStorageInfo``.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    qid: str
    parent: int | None
    start: float
    end: float = 0.0
    measured: float | None = None  # duration as timed elsewhere, before clamping

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; written out once, at the end of a run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, qid: str, parent: Span | None = None):
        s = Span(len(self.spans), name, qid, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def add(self, name: str, qid: str, parent: Span | None, start: float, dur: float) -> Span:
        """Record a span timed elsewhere (a Catalyst phase, a finished
        load), clamped so it never extends past its parent."""
        end = start + dur
        if parent is not None:
            start = max(parent.start, min(start, parent.end))
            end = min(end, parent.end)
        s = Span(len(self.spans), name, qid, parent.id if parent else None, start, end, dur)
        self.spans.append(s)
        return s

    def self_times(self, qid: str) -> dict[str, float]:
        """Each layer's self time in one query: span duration minus the
        part of it covered by child spans."""
        spans = [s for s in self.spans if s.qid == qid]
        child = Counter()
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: Counter = Counter()
        for s in spans:
            out[s.name] += s.dur - child[s.id]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


# ---- Spark counters --------------------------------------------------------

_PYTHON_NODE_HINTS = ("Python", "Pandas", "Arrow")


def catalyst_phases(jvm, qe) -> dict[str, tuple[float, float]]:
    """``{phase: (start_epoch_s, duration_s)}`` from the planning tracker."""
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return {
        k: (phases.get(k).startTimeMs() / 1e3, phases.get(k).durationMs() / 1e3)
        for k in phases.keySet()
    }


_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


def _metrics(node) -> dict[str, int]:
    """A plan node's SQL metrics, read in one py4j round trip as the
    printed metric map rather than one call per metric."""
    return {k: int(v) for k, v in _METRIC.findall(node.metrics().toString())}


def plan_features(jvm, plan) -> Counter:
    """Walk the executed plan (through the adaptive final plan and every
    query stage) and sum the features and SQL metrics the benchmark
    reports. A reused exchange is counted once, where it first ran."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out: Counter = Counter()
    stack = [plan]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.finalPhysicalPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(p.plan())
            continue
        if name.startswith("Reused"):
            continue
        m = _metrics(p)
        if name == "Exchange":
            out["exchanges"] += 1
            out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            out["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        elif name == "BroadcastExchange":
            out["broadcasts"] += 1
        elif name == "SortMergeJoin":
            out["sort_merge_joins"] += 1
        elif name == "InMemoryTableScan":
            out["cache_scans"] += 1
        elif "filesSize" in m or "numFiles" in m:
            out["scan_files"] += m.get("numFiles", 0)
            out["scan_bytes"] += m.get("filesSize", 0)
        if any(h in name for h in _PYTHON_NODE_HINTS) or any(k.startswith("python") for k in m):
            out["python_nodes"] += 1
            out["python_ms"] += m.get("pythonTotalTime", 0) or m.get("pythonExecTime", 0)
            out["python_init_ms"] += m.get("pythonBootTime", 0) + m.get("pythonInitTime", 0)
            out["python_bytes_sent"] += m.get("pythonDataSent", 0)
        out["spill_bytes"] += m.get("spillSize", 0)
        out["peak_memory_bytes"] = max(out["peak_memory_bytes"], m.get("peakMemory", 0))
        stack.extend(conv.asJava(p.children()))
        subqueries = p.subqueries()
        if not subqueries.isEmpty():
            stack.extend(conv.asJava(subqueries))
    return out


def job_counts(sc, group: str) -> Counter:
    """Jobs, stages that ran tasks, and tasks completed for one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: dict[int, int] = {}
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages[sid] = si.numCompletedTasks
    return Counter(jobs=len(jobs), stages=len(stages), tasks=sum(stages.values()))


def gc_ms(jvm) -> int:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def storage(sc) -> tuple[int, int]:
    """(cached RDDs, bytes they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
