"""Per-job task metrics from a Spark event log.

Tasks are credited to the job that ran their stage. A stage id can be
listed by several jobs: a later job lists an already computed shuffle
stage as a skipped parent, and under AQE each query stage is
materialized by its own job. Crediting the first job that *listed* a
stage therefore misattributes tasks. Here a stage attempt belongs to the
job that submitted it: when ``SparkListenerStageSubmitted`` arrives, the
owner is the most recently started job that is still running and lists
the stage (the DAG scheduler submits a job's missing stages in the same
event-loop turn that posts its ``JobStart``).

The benchmark attributes jobs to phases and queries by job-id ranges read
from the driver, so jobs from ``execute_dag``'s pool threads, which carry
no job group or description, land in the right phase.

Input is counted in rows: for local parquet scans the event log's
``Bytes Read`` stays near zero (0.6 MB for a cold build that scans 16 MB).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("tasks", "executor_cpu_s", "input_rows", "output_mb", "shuffle_mb", "spill_mb")


def _zero() -> dict[str, float]:
    return dict.fromkeys(FIELDS, 0.0)


def parse(event_dir: str) -> dict[int, dict[str, float]]:
    """job id → summed task metrics of the stages that job ran."""
    files = sorted(
        os.path.join(root, f) for root, _dirs, names in os.walk(event_dir) for f in names
    )
    jobs: dict[int, dict[str, float]] = defaultdict(_zero)
    running: dict[int, set[int]] = {}
    owner: dict[tuple[int, int], int] = {}
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    running[job] = set(ev.get("Stage IDs", []))
                    jobs[job]  # a job with only skipped stages still counts
                elif kind == "SparkListenerJobEnd":
                    running.pop(ev["Job ID"], None)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    listing = [j for j, stages in running.items() if sid in stages]
                    if listing:
                        owner[(sid, info.get("Stage Attempt ID", 0))] = max(listing)
                elif kind == "SparkListenerTaskEnd":
                    job = owner.get((ev.get("Stage ID"), ev.get("Stage Attempt ID", 0)))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    agg = jobs[job]
                    agg["tasks"] += 1
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    agg["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
                    agg["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ) / 1e6
                    agg["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return dict(jobs)


def window(jobs: dict[int, dict[str, float]], ranges: list[tuple[int, int]]) -> dict[str, float]:
    """Sum the metrics of the jobs whose ids fall in any [first, end) range."""
    out = _zero()
    out["jobs"] = 0
    for first, end in ranges:
        for job in range(first, end):
            out["jobs"] += 1
            for k, v in jobs.get(job, {}).items():
                out[k] += v
    return out
