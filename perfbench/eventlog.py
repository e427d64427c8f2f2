"""Spark event-log parsing and attribution of Spark work to benchmark spans.

The traced run enables ``spark.eventLog`` and sets the Spark job group to a
span's name before each public call, so every job a call starts carries the
span name in its ``spark.jobGroup.id`` property. This module reads the log
(one plain JSON-lines file) and sums, per span, the job intervals and the
task metrics Spark recorded for those jobs.

Times in the log are epoch milliseconds from the JVM clock; spans are epoch
seconds from the driver's ``time.time()``. Both read the same host clock.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_write_bytes: int
    shuffle_write_ns: float
    shuffle_read_bytes: int
    fetch_wait_ms: float
    py_sent: int
    py_received: int
    heap_bytes: int  # peak JVM heap in use while the task ran


@dataclass
class Job:
    id: int
    group: str | None
    call_site: str | None
    submit_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_groups: dict[int, str | None]  # stage id -> group that ran it
    tasks: list[Task]
    stage_heap: dict[int, int]  # stage id -> peak JVM heap in use, bytes


def find_log(log_dir: str) -> str:
    """The single application log under ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    logs = [e for e in entries if e.startswith(("local-", "app-"))]
    if len(logs) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, logs[0])


def _accum(task_info: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in task_info.get("Accumulables", []):
        name = a.get("Name")
        if name in (PY_SENT, PY_RECEIVED) and "Update" in a:
            out[name] = out.get(name, 0) + int(float(a["Update"]))
    return out


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_groups: dict[int, str | None] = {}
    tasks: list[Task] = []
    stage_heap: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(
                    id=e["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    call_site=props.get("callSite.short"),
                    submit_ms=e["Submission Time"],
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(e["Job ID"])
                if job is not None:
                    job.end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                # a stage listed by a later job but skipped there (its
                # shuffle output reused) is never submitted again, so this
                # is the group whose job actually ran it
                props = e.get("Properties") or {}
                stage_groups[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerStageExecutorMetrics":
                # logged with spark.eventLog.logStageExecutorMetrics: each
                # executor's peaks over the stage (in local mode, the driver)
                heap = (e.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
                stage_heap[e["Stage ID"]] = max(stage_heap.get(e["Stage ID"], 0), heap)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                acc = _accum(e["Task Info"])
                tasks.append(Task(
                    stage=e["Stage ID"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_write_ns=sw.get("Shuffle Write Time", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    fetch_wait_ms=sr.get("Fetch Wait Time", 0),
                    py_sent=acc.get(PY_SENT, 0),
                    py_received=acc.get(PY_RECEIVED, 0),
                    heap_bytes=(e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0),
                ))
    return EventLog(jobs, stage_groups, tasks, stage_heap)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _plan_end(jobs: list[Job], start: float, planner: tuple[str, str] | None) -> float:
    """Where an op's planning ends: after the last job its planner started
    (call site ``<action> at .../<module>``), else when its first job was
    submitted (driver-side planning only), else at the op's start."""
    if planner is not None:
        action, module = planner
        ends = [j.end_ms / 1000 for j in jobs
                if j.call_site and j.call_site.startswith(action + " ")
                and module in j.call_site and j.end_ms is not None]
        if ends:
            return max(ends)
    if jobs:
        return min(j.submit_ms for j in jobs) / 1000
    return start


def op_metrics(log: EventLog, group: str, start: float, end: float,
               planner: tuple[str, str] | None = None) -> dict[str, float]:
    """Spark's view of one op: the jobs of job group ``group``, whose span
    ran from ``start`` to ``end`` (epoch seconds).

    ``driver_s`` is the span's wall time not covered by any of its jobs and
    ``job_s`` the union of its job intervals, not clipped to the span. Their
    sum equals the wall time only when every job of the group ran inside
    the span, so ``selftime_ratio`` = (driver_s + job_s) / wall checks the
    attribution: a job tagged with the wrong group or a clock offset shows.
    ``planner`` names the call site of the op's planning job, as
    ``(action, module file)``; ``plan_s`` runs up to that job's end.
    ``jvm_heap_peak_mb`` is the largest JVM heap in use that Spark's
    executor-metric polling saw during the op's stages and tasks (0 when
    the log has no executor metrics).
    """
    jobs = [j for j in log.jobs.values() if j.group == group and j.end_ms is not None]
    ivals = [(j.submit_ms / 1000, j.end_ms / 1000) for j in jobs]
    wall = end - start
    inside = union_s([(max(lo, start), min(hi, end)) for lo, hi in ivals if hi > start and lo < end])
    job_s = union_s(ivals)
    driver_s = wall - inside
    stage_ids = {s for s, g in log.stage_groups.items() if g == group}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    by_stage: dict[int, list[Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    skew = 1.0
    if by_stage:
        # task skew of the stage that holds the most executor time; tasks
        # under 5% of its longest are empty partitions and are left out
        main = max(by_stage.values(), key=lambda ts: sum(t.run_ms for t in ts))
        longest = max(t.run_ms for t in main)
        med = statistics.median(t.run_ms for t in main if t.run_ms >= 0.05 * longest)
        skew = longest / med if med > 0 else 1.0
    plan_end = min(max(_plan_end(jobs, start, planner), start), end)
    return {
        "wall_s": wall,
        "plan_s": plan_end - start,
        "exec_s": end - plan_end,
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "driver_s": driver_s,
        "job_s": job_s,
        "selftime_ratio": (driver_s + job_s) / wall if wall > 0 else 0.0,
        "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle_write_s": sum(t.shuffle_write_ns for t in tasks) / 1e9,
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1e3,
        "python_bytes_sent": sum(t.py_sent for t in tasks),
        "python_bytes_received": sum(t.py_received for t in tasks),
        "task_skew": skew,
        "jvm_heap_peak_mb": max([log.stage_heap.get(s, 0) for s in stage_ids]
                                + [t.heap_bytes for t in tasks] + [0]) / 2**20,
    }
