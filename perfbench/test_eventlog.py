"""Event-log parser tests over a recorded log.

``fixtures/eventlog_small.jsonl`` is a Spark 4 event log recorded from a
local[4] session that ran one uniform-key forest build (job group
``build#0``: the approx-count planning jobs from ``forest.py``, then the
shuffle + applyInPandas build collected by ``Forest.from_df``) and one
broadcast probe (job group ``query#0``). It keeps the events and fields the
parser reads; call-site paths are made relative.

Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(FIXTURE)


def _span(log, group, pad_before=0.5, pad_after=0.25):
    jobs = [j for j in log.jobs.values() if j.group == group]
    return (min(j.submit_ms for j in jobs) / 1000 - pad_before,
            max(j.end_ms for j in jobs) / 1000 + pad_after)


def test_parse_reads_jobs_stages_and_tasks(log):
    assert sorted(log.jobs) == list(range(2, 14))
    assert {j.group for j in log.jobs.values()} == {"build#0", "query#0"}
    assert log.jobs[2].call_site == "first at sparkfuse/forest.py:193"
    assert log.jobs[12].call_site is None
    assert len(log.tasks) == 49
    # a stage belongs to the group whose job submitted it
    assert log.stage_groups[9] == "build#0"
    assert log.stage_groups[11] == "query#0"


def test_build_op_metrics(log):
    start, end = _span(log, "build#0")
    m = eventlog.op_metrics(log, "build#0", start, end, ("first", "forest.py"))
    assert (m["jobs"], m["stages"], m["tasks"]) == (5, 5, 25)
    assert m["shuffle_write_bytes"] == 3_601_712
    assert m["shuffle_read_bytes"] == 3_601_712
    assert m["python_bytes_sent"] == 1_625_392
    assert m["python_bytes_received"] == 119_816
    # planning ends with the second approx-count job (id 3)
    assert m["plan_s"] == pytest.approx(log.jobs[3].end_ms / 1000 - start)
    assert m["plan_s"] + m["exec_s"] == pytest.approx(m["wall_s"])
    # every job of the group ran inside the span
    assert m["selftime_ratio"] == pytest.approx(1.0)
    assert m["driver_s"] + m["job_s"] == pytest.approx(m["wall_s"])
    assert m["task_skew"] >= 1.0


def test_query_op_metrics(log):
    start, end = _span(log, "query#0")
    m = eventlog.op_metrics(log, "query#0", start, end, ("first", "probe.py"))
    assert (m["jobs"], m["tasks"]) == (7, 24)
    assert m["python_bytes_sent"] == 2_476_416
    assert m["plan_s"] == pytest.approx(log.jobs[8].end_ms / 1000 - start)


def test_without_a_planning_job_plan_ends_at_the_first_job(log):
    start, end = _span(log, "build#0")
    m = eventlog.op_metrics(log, "build#0", start, end, None)
    assert m["plan_s"] == pytest.approx(0.5)


def test_selftime_ratio_flags_jobs_outside_the_span(log):
    start, _ = _span(log, "build#0")
    end = log.jobs[5].end_ms / 1000 - 1.0  # cuts the op short
    m = eventlog.op_metrics(log, "build#0", start, end)
    assert m["selftime_ratio"] > 1.1


def test_unknown_group_has_no_jobs(log):
    m = eventlog.op_metrics(log, "nothing", 0.0, 1.0)
    assert (m["jobs"], m["tasks"], m["job_s"]) == (0, 0, 0.0)
    assert m["driver_s"] == pytest.approx(1.0)


def test_union_s():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert eventlog.union_s([(5, 6), (0, 1), (0.5, 0.75)]) == pytest.approx(2.0)


def test_jvm_heap_peak_from_executor_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 5},
         "Task Executor Metrics": {"JVMHeapMemory": 300 * 2**20}},
        {"Event": "SparkListenerStageExecutorMetrics", "Executor ID": "driver",
         "Stage ID": 0, "Stage Attempt ID": 0,
         "Executor Metrics": {"JVMHeapMemory": 512 * 2**20}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ]
    path = tmp_path / "local-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    assert eventlog.find_log(str(tmp_path)) == str(path)
    m = eventlog.op_metrics(eventlog.parse(str(path)), "g", 0.5, 2.5)
    assert m["jvm_heap_peak_mb"] == pytest.approx(512)
    assert (m["jobs"], m["tasks"]) == (1, 1)
