"""Event-log parser tests.  Run from the repository root:

    python3 -m pytest erbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import summarize, summarize_file  # noqa: E402

RECORDED = os.path.join(HERE, "data", "tiny_eventlog.jsonl")


def _job(job_id, stages, group=None, submitted=1000):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Submission Time": submitted, "Stage IDs": stages,
                       "Properties": props})


def _task(stage, cpu_ns=0, written=0, remote=0, local=0, mem=0, disk=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                     "Local Bytes Read": local},
            "Memory Bytes Spilled": mem, "Disk Bytes Spilled": disk,
        }})


MB = 2**20


def test_tasks_sum_per_job_group():
    lines = [
        _job(0, [0, 1], group="blocking"),
        _task(0, cpu_ns=2_000_000_000, written=3 * MB),
        _task(1, cpu_ns=500_000_000, local=MB, remote=2 * MB, mem=MB, disk=MB),
        _job(1, [2]),  # no group: the checkpoint writer threads
        _task(2, written=MB),
        _task(9),  # a stage no job claimed
    ]
    out = summarize(lines, group_of=lambda g: g or "checkpoint")
    assert out["blocking"] == {
        "jobs": 1, "tasks": 2, "task_cpu_s": 2.5, "shuffle_write_mb": 3.0,
        "shuffle_read_mb": 3.0, "spill_mb": 2.0,
    }
    assert out["checkpoint"]["jobs"] == 1
    assert out["checkpoint"]["tasks"] == 1
    assert out["checkpoint"]["shuffle_write_mb"] == 1.0


def test_stage_shared_by_two_jobs_counts_once():
    lines = [_job(0, [5], group="scoring"), _job(1, [5], group="clustering"),
             _task(5, cpu_ns=10**9)]
    out = summarize(lines)
    assert out["scoring"]["tasks"] == 1
    assert (out["clustering"]["jobs"], out["clustering"]["tasks"]) == (1, 0)


def test_window_keeps_only_jobs_submitted_inside():
    lines = [_job(0, [0], group="features", submitted=10),
             _job(1, [1], group="features", submitted=20),
             _task(0), _task(1), _task(1)]
    out = summarize(lines, window_ms=(15, 25))
    assert out["features"]["jobs"] == 1
    assert out["features"]["tasks"] == 2


def test_recorded_log():
    """A log recorded from Spark, trimmed to job and task events: two jobs
    under the ``features`` job group and one job with no group."""
    out = summarize_file(RECORDED, group_of=lambda g: g or "checkpoint")
    assert set(out) == {"features", "checkpoint"}
    with open(RECORDED) as f:
        events = [json.loads(line) for line in f]
    task_ends = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)
    assert out["features"]["jobs"] == 2
    assert out["checkpoint"]["jobs"] == 1
    assert out["features"]["tasks"] + out["checkpoint"]["tasks"] == task_ends
    assert out["features"]["shuffle_write_mb"] > 0
    assert out["features"]["shuffle_read_mb"] == pytest.approx(
        out["features"]["shuffle_write_mb"])
    assert out["features"]["task_cpu_s"] > 0


def test_rolling_directory_reads_parts_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "appstatus_app").write_text("")
    (d / "events_2_app").write_text(_task(0) + "\n")
    (d / "events_1_app").write_text(_job(0, [0], group="incremental") + "\n")
    out = summarize_file(str(d))
    assert out["incremental"]["tasks"] == 1
