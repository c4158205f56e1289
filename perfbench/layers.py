"""Spans around the benchmark's calls into each layer, and the Spark-side
counters read from outside the program: Catalyst phase times from a
DataFrame's own QueryExecution, job/stage/task counts from the status
tracker under a job group, and SQL metrics from the final adaptive plan."""

from __future__ import annotations

import contextlib
import time
from collections import Counter, defaultdict


class Tracer:
    """Records spans (name, start, end, parent, query id) in memory.
    A disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "qid": qid,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    children cover. Overlapping children are counted once."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the physical plan, then read analysis/optimization/planning
    durations from the DataFrame's own QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and completed tasks under one job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


#: SQL metric key -> per-layer counter it adds to.
_SQL_METRICS = {
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
    "peakMemory": "peak_memory_bytes",
}


def sql_metrics(df) -> Counter:
    """Sum SQL metrics over the executed plan of an already-collected
    DataFrame. Descends from AdaptiveSparkPlanExec's final plan into
    every query stage; reused exchanges are skipped, since their
    metrics live on the exchange they reuse."""
    jvm = df.sparkSession.sparkContext._jvm
    to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        metrics = to_java(node.metrics())
        names = set(metrics.keySet())
        for key, counter in _SQL_METRICS.items():
            if key in names:
                out[counter] += int(metrics.get(key).value())
        if "Scan" in cls:
            if "numOutputRows" in names:
                out["scan_rows"] += int(metrics.get("numOutputRows").value())
            if "scanTime" in names:
                out["scan_time_ms"] += int(metrics.get("scanTime").value())
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out
