"""Event-log attribution of ``tools/metrics_probe.py``: a stage's tasks
belong to the job that submitted it, not to the first job that listed it."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from metrics_probe import parse_event_log  # noqa: E402


def _task(stage: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {"Executor CPU Time": 1_000_000_000},
    }


def _submit(stage: int) -> dict:
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0},
    }


def _job(job: int, stages: list[int], label: str) -> dict:
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage IDs": stages,
        "Properties": {"spark.job.description": label},
    }


def test_stage_listed_by_earlier_job_is_credited_to_its_submitter(tmp_path):
    # the warm job lists stage 1 but never runs it; the probe job does
    events = [
        _job(0, [1, 2], "warm:q"),
        _submit(2),
        _task(2),
        {"Event": "SparkListenerJobEnd", "Job ID": 0},
        _job(1, [1, 3], "probe:q:0"),
        _submit(1),
        _task(1),
        _task(1),
        _submit(3),
        _task(3),
        {"Event": "SparkListenerJobEnd", "Job ID": 1},
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    per_label = parse_event_log(str(tmp_path))
    assert (per_label["warm:q"]["jobs"], per_label["warm:q"]["tasks"]) == (1, 1)
    assert (per_label["probe:q:0"]["jobs"], per_label["probe:q:0"]["tasks"]) == (1, 3)
    assert per_label["probe:q:0"]["cpu_sec"] == 3.0
