"""Spans around the benchmark's calls into the engine, and their Spark cost.

Every timed call runs inside ``Tracer.span(name)``. The span always
records its wall time, so the end-to-end timers and the spans are one
mechanism. When tracing is on, the span also puts its jobs under a Spark
job group of its own; after the session stops, ``attribute`` reads the
Spark event log and charges each span with the jobs, tasks and bytes of
its group. Nothing is written while the run is measured: spans stay in
memory until ``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
FILES_READ = "number of files read"


class Tracer:
    """In-memory span recorder. Set ``sc`` to the SparkContext to turn
    tracing on; while it is None, spans are timed but set no job group."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(f"pb-{self.run_id}-{rec['id']}", name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"pb-{self.run_id}-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def _read_event_log(event_dir: str) -> dict:
    """Jobs, stages' tasks and per-execution scan file counts, by job
    group."""
    # Spark 4 writes a rolling log: one directory of events_* files
    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(event_dir)
        for f in names
        if not f.endswith(".crc") and not f.startswith("appstatus")
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    files_read_ids: dict[int, set] = {}
    files_read: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    jobs[jid] = {"group": group, "start": ev["Submission Time"], "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None and group is not None:
                        exec_group[int(eid)] = group
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "dur": info["Finish Time"] - info["Launch Time"],
                        "run": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc": m.get("JVM GC Time", 0),
                        "in": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
                elif kind in (SQL_START, SQL_AQE_UPDATE):
                    ids = files_read_ids.setdefault(ev["executionId"], set())
                    _plan_metric_ids(ev.get("sparkPlanInfo") or {}, FILES_READ, ids)
                elif kind == SQL_DRIVER_ACCUM:
                    ids = files_read_ids.get(ev["executionId"], set())
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_id in ids:
                            files_read[ev["executionId"]] = (
                                files_read.get(ev["executionId"], 0) + value)
    by_group: dict[str, dict] = {}
    for jid, job in jobs.items():
        g = by_group.setdefault(job["group"], {"jobs": [], "stages": {}, "files_read": 0})
        g["jobs"].append(job)
    for sid, ts in tasks.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            by_group[job["group"]]["stages"][sid] = ts
    for eid, n in files_read.items():
        g = exec_group.get(eid)
        if g in by_group:
            by_group[g]["files_read"] += n
    return by_group


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def attribute(tracer: Tracer, event_dir: str, slots: int) -> None:
    """Charge each span with the Spark work of its own job group and of
    its descendants' groups (a parent's cost includes its children's)."""
    by_group = _read_event_log(event_dir)
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: int) -> list[int]:
        out = [sid]
        for c in children.get(sid, []):
            out.extend(subtree(c))
        return out

    for s in tracer.spans:
        groups = [by_group.get(f"pb-{tracer.run_id}-{i}") for i in subtree(s["id"])]
        groups = [g for g in groups if g]
        jobs = [j for g in groups for j in g["jobs"] if j["end"] is not None]
        stages = [ts for g in groups for ts in g["stages"].values()]
        all_tasks = [t for ts in stages for t in ts]
        wall_ms = (s["end"] - s["start"]) * 1000.0
        job_ms = _union_ms([(j["start"], j["end"]) for j in jobs])
        run_ms = sum(t["run"] for t in all_tasks)
        skew = 1.0
        if stages:
            largest = max(stages, key=lambda ts: sum(t["dur"] for t in ts))
            med = statistics.median(t["dur"] for t in largest)
            skew = max(t["dur"] for t in largest) / med if med > 0 else 1.0
        s["spark"] = {
            "jobs": len(jobs),
            "tasks": len(all_tasks),
            "driver_ms": max(0.0, wall_ms - job_ms),
            "busy_frac": run_ms / (wall_ms * slots) if wall_ms > 0 else 0.0,
            "task_cpu_ms": sum(t["cpu_ns"] for t in all_tasks) / 1e6,
            "gc_ms": sum(t["gc"] for t in all_tasks),
            "task_skew": skew,
            "input_mb": sum(t["in"] for t in all_tasks) / 2**20,
            "output_mb": sum(t["out"] for t in all_tasks) / 2**20,
            "shuffle_mb": sum(t["shuffle"] for t in all_tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in all_tasks) / 2**20,
            "files_read": sum(g["files_read"] for g in groups),
        }


def coverage(tracer: Tracer, window: dict) -> float:
    """Share of a window span covered by the union of its direct
    children (how much of the timed window the timed calls account for)."""
    kids = [s for s in tracer.spans if s["parent"] == window["id"]]
    covered = _union_ms([(s["start"], s["end"]) for s in kids])
    wall = window["end"] - window["start"]
    return covered / wall if wall > 0 else 0.0
