"""Fold an uncompressed Spark event log into per-job-group totals.

Standard library only. The benchmark tags every job with a job group
``"<key>|<phase>|<pass>"`` and this module sums, per group:

- jobs, stages, tasks, and the submission time of the group's first job;
- task metrics: executor run and CPU time, GC time, shuffle bytes written
  and read, spilled bytes, peak execution memory;
- the task intervals, so that idle time (no task running) can be taken
  from any window;
- SQL metrics of the Python-kernel plan nodes (rows in and out, time in
  the Python workers) and the size of every broadcast.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

KERNEL_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas")
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


class Group:
    """Totals of one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.stages: set[int] = set()
        self.tasks = 0
        self.first_job_start = None  # ms, driver clock
        self.executor_run_ms = 0
        self.executor_cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write_bytes = 0
        self.shuffle_read_bytes = 0
        self.spill_bytes = 0
        self.peak_exec_memory_bytes = 0
        self.broadcast_bytes = 0
        self.kernel_python_ms = 0
        self.kernel_rows_in = 0
        self.kernel_rows_out = 0
        self.task_intervals: list[tuple[int, int]] = []
        self.stage_task_ms: dict[int, list[int]] = defaultdict(list)


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def _metric_ids(plan: dict, name: str) -> list[int]:
    return [m["accumulatorId"] for m in plan.get("metrics", ()) if m["name"] == name]


def _rows_metric(plan: dict) -> list[int]:
    """Output-row accumulators of ``plan`` or, where it has none (a codegen
    Project or Filter), of its first descendant that does."""
    ids = _metric_ids(plan, "number of output rows")
    if ids:
        return ids
    for child in plan.get("children", ()):
        ids = _rows_metric(child)
        if ids:
            return ids
    return []


class _PlanIndex:
    """Accumulator ids of interest, from every plan version of every query."""

    def __init__(self) -> None:
        self.kernel_out: set[int] = set()
        self.kernel_in: set[int] = set()
        self.kernel_time: set[int] = set()
        self.broadcast: set[int] = set()

    def add(self, plan: dict) -> None:
        for node in _walk(plan):
            name = node.get("nodeName", "")
            if any(name.startswith(k) for k in KERNEL_NODES):
                self.kernel_out.update(_metric_ids(node, "number of output rows"))
                self.kernel_time.update(_metric_ids(node, "time to run Python workers"))
                for child in node.get("children", ()):
                    self.kernel_in.update(_rows_metric(child))
            if name.startswith("BroadcastExchange"):
                self.broadcast.update(_metric_ids(node, "data size"))


def fold(path: str) -> dict[str, Group]:
    """Per-job-group totals of the event log at ``path``."""
    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    index = _PlanIndex()
    driver_accums: list[tuple[int, list]] = []
    task_accums: list[tuple[str, list]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                gid = props.get("spark.jobGroup.id")
                if gid is None:
                    continue
                g = groups[gid]
                g.jobs += 1
                t = ev["Submission Time"]
                g.first_job_start = t if g.first_job_start is None else min(g.first_job_start, t)
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = gid
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), gid)
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if gid is None:
                    continue
                g = groups[gid]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.stages.add(ev["Stage ID"])
                g.task_intervals.append((info["Launch Time"], info["Finish Time"]))
                run_ms = m.get("Executor Run Time", 0)
                g.stage_task_ms[ev["Stage ID"]].append(run_ms)
                g.executor_run_ms += run_ms
                g.executor_cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g.peak_exec_memory_bytes = max(g.peak_exec_memory_bytes, m.get("Peak Execution Memory", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                task_accums.append((gid, info.get("Accumulables") or []))
            elif kind in (SQL_START, SQL_AQE):
                index.add(ev["sparkPlanInfo"])
            elif kind == DRIVER_ACCUMS:
                driver_accums.append((ev["executionId"], ev["accumUpdates"]))
    for gid, accs in task_accums:
        g = groups[gid]
        for a in accs:
            aid = a.get("ID")
            try:
                upd = int(a.get("Update"))  # SQL metric updates are logged as strings
            except (TypeError, ValueError):
                continue
            if aid in index.kernel_out:
                g.kernel_rows_out += upd
            elif aid in index.kernel_in:
                g.kernel_rows_in += upd
            if aid in index.kernel_time:
                g.kernel_python_ms += upd
    for eid, updates in driver_accums:
        gid = exec_group.get(eid)
        if gid is None:
            continue
        for aid, value in updates:
            if aid in index.broadcast:
                groups[gid].broadcast_bytes += int(value)
    return dict(groups)


def find_log(log_dir: str) -> str:
    """The single (uncompressed, non-rolling) event log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1 or os.path.isdir(os.path.join(log_dir, names[0])):
        raise RuntimeError(f"expected one event log file in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
