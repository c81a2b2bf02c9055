"""Spans recorded around calls into the engine, and a parser for Spark's
JSON event log.

Spans live in memory and are written once, when the run ends. Each span
also names a Spark job group, so the jobs, stages, tasks and SQL
executions in the event log can be attributed to the span that caused
them.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager

PYTHON_OPS = ("Python", "InPandas", "InArrow")


class Tracer:
    """Span recorder. ``sc`` (a SparkContext) is optional; when given,
    each span sets the job group to its name while it is open."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else None
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(outer, outer)

    def duration(self, name: str) -> float:
        """Total seconds over every closed span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counts": self.counts, **(extra or {})}, f, indent=1)


# ------------------------------------------------------------ event log


def _walk(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk(child)


def _new_group() -> dict:
    return {"jobs": 0, "stages": 0, "exec_cpu_s": 0.0, "exec_run_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "bytes_read": 0, "stage_tasks": {}, "executions": set()}


def _lines(path: str):
    """Lines of an event log: one file, or the ``events_<n>_*`` files of
    a rolling-log directory in index order."""
    if os.path.isdir(path):
        files = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as f:
            yield from f


def parse_event_log(path: str) -> dict:
    """Summarise an uncompressed Spark event log.

    Returns ``{"groups": {job_group: totals}, "total": totals,
    "executions": {id: {"group", "plan": [node names], "ops": {(node,
    metric): value}}}, "plan": {...}}``. Totals hold job and stage
    counts, executor CPU/run/GC seconds, shuffle-write, spill and input
    bytes, and per-stage task durations (``stage_tasks``).
    """
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    accum: dict[int, tuple[int, str, str]] = {}  # id -> (exec, node, metric)
    values: dict[int, float] = {}
    plans: dict[int, dict] = {}
    groups: dict[str | None, dict] = {}
    total = _new_group()

    def add_plan(eid: int, info: dict) -> None:
        plans[eid] = info
        for node in _walk(info):
            for m in node.get("metrics", []):
                accum[m["accumulatorId"]] = (eid, node["nodeName"], m["name"])

    for line in _lines(path):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = g
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
            for t in (total, groups.setdefault(g, _new_group())):
                t["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            for t in (total, groups.setdefault(g, _new_group())):
                t["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = stage_group.get(sid)
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
            for t in (total, groups.setdefault(g, _new_group())):
                t["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                t["exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                t["shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                t["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                t["bytes_read"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                t["stage_tasks"].setdefault(sid, []).append(dur)
            for a in info.get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float, str)):
                    try:
                        values[a["ID"]] = values.get(a["ID"], 0) + float(upd)
                    except ValueError:
                        pass
        elif kind.endswith("SQLExecutionStart"):
            add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                accum[m["accumulatorId"]] = (ev["executionId"], "?", m["name"])
        elif kind.endswith("DriverAccumUpdates"):
            for aid, v in ev.get("accumUpdates", []):
                values[aid] = values.get(aid, 0) + float(v)

    executions: dict[int, dict] = {}
    for eid, info in plans.items():
        g = exec_group.get(eid)
        executions[eid] = {"group": g, "plan": [n["nodeName"] for n in _walk(info)],
                           "ops": {}}
        groups.setdefault(g, _new_group())["executions"].add(eid)
    for aid, (eid, node, metric) in accum.items():
        if aid in values:
            ops = executions[eid]["ops"]
            ops[(node, metric)] = ops.get((node, metric), 0) + values[aid]

    names = [n for e in executions.values() for n in e["plan"]]
    plan = {
        "exchanges": sum(n == "Exchange" for n in names),
        "broadcasts": sum(n == "BroadcastExchange" for n in names),
        "python_ops": sum(any(k in n for k in PYTHON_OPS) for n in names),
        "digest": hashlib.sha1("|".join(
            ",".join(executions[e]["plan"]) for e in sorted(executions)
        ).encode()).hexdigest()[:16],
    }
    return {"groups": groups, "total": total, "executions": executions, "plan": plan}


def op_metric(log: dict, group: str, node: str | None, metric: str) -> float:
    """Sum of one SQL operator metric over the executions of a job group,
    on operators named ``node`` (any operator when None)."""
    return sum(
        v for e in log["executions"].values() if e["group"] == group
        for (n, m), v in e["ops"].items() if node in (None, n) and m == metric
    )


def task_skew(group: dict) -> float:
    """Max over median task time in the group's busiest stage."""
    stages = group["stage_tasks"]
    if not stages:
        return 0.0
    tasks = max(stages.values(), key=sum)
    tasks = sorted(tasks)
    mid = tasks[len(tasks) // 2]
    return tasks[-1] / mid if mid > 0 else 1.0
