"""Traced-run recorder: spans kept in memory, Spark counters per span.

Each span (name, start, end, parent, op id) runs its Spark jobs under its
own job group. When the run ends, ``stage_stats`` and ``sql_plan_stats``
read Spark's own status stores for a group: per-stage executor time, CPU,
GC, shuffle, spill and task counts from the core store, and per-operator
``number of output rows`` from the SQL store. Both stores are filled with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans of one traced run. A span's self time is its duration minus
    the part of it covered by child spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": parent,
            "group": f"perfbench-{sid}-{name}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def self_time(self, rec: dict) -> float:
        children = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in children:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]


def _conv(sc):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters


def stage_stats(spark, groups: list[str]) -> dict:
    """Sum the core status store's stage data over the jobs of ``groups``.

    A stage listed by several jobs is counted once. ``task_skew`` is
    max/median task run time in the longest-running stage."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    claimed: set[int] = set()
    out = defaultdict(float)
    heaviest = (-1, None, None)
    for g in groups:
        for jid in sorted(tracker.getJobIdsForGroup(g)):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in claimed:
                    continue
                claimed.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["tasks"] += sd.numTasks()
                out["stages"] += 1
                if sd.executorRunTime() > heaviest[0]:
                    heaviest = (sd.executorRunTime(), sid, sd.attemptId())
    out["task_skew"] = 1.0
    if heaviest[1] is not None:
        tasks = _conv(sc).asJava(store.taskList(heaviest[1], heaviest[2], 100000))
        times = [
            t.taskMetrics().get().executorRunTime()
            for t in tasks
            if t.taskMetrics().isDefined()
        ]
        med = statistics.median(times) if times else 0
        if med > 0:
            out["task_skew"] = max(times) / med
    return dict(out)


def _parse_count(s: str | None) -> int:
    if not s:
        return 0
    head = s.split("\n")[0].split(" ")[0]
    try:
        return int(head.replace(",", ""))
    except ValueError:
        return 0


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(s: str | None) -> float:
    """A size metric as Spark formats it ("7.1 MiB"); the total when
    Spark prints per-task statistics."""
    if not s:
        return 0.0
    lines = s.split("\n")
    num, unit = (lines[1] if lines[0].startswith("total") else lines[0]).split(" ")[:2]
    return float(num.replace(",", "")) * _SIZE_UNITS.get(unit, 1)


def sql_plan_stats(spark, groups: list[str]) -> dict:
    """Operators of the SQL executions that ran jobs in ``groups``: for
    each join kind ``<Join>.count`` and ``<Join>.rows`` (summed ``number of
    output rows``), ``join.max_rows`` (the most rows out of one join node)
    and ``scan.bytes`` (``size of files read``)."""
    sc = spark.sparkContext
    conv = _conv(sc)
    tracker = sc.statusTracker()
    jobs = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
    store = spark._jsparkSession.sharedState().statusStore()
    out = defaultdict(int)
    for ex in conv.asJava(store.executionsList()):
        if not set(conv.asJava(ex.jobs()).keySet()) & jobs:
            continue
        eid = ex.executionId()
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            name = node.name()
            if name.startswith("Scan "):
                for m in conv.asJava(node.metrics()):
                    if m.name() == "size of files read":
                        out["scan.bytes"] += _parse_size(values.get(m.accumulatorId()))
            if not name.endswith("Join"):
                continue
            out[f"{name}.count"] += 1
            for m in conv.asJava(node.metrics()):
                if m.name() == "number of output rows":
                    rows = _parse_count(values.get(m.accumulatorId()))
                    out[f"{name}.rows"] += rows
                    out["join.max_rows"] = max(out["join.max_rows"], rows)
    return dict(out)
