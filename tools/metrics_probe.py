"""Per-query event-log metrics probe: deterministic evidence for
optimization decisions (VERDICT r14 ask #4).

Wall-clock on this box drifts 40-50% between sessions (the r14 driver
bench vs the r13 record), so plan-level decisions are made on
event-log task metrics instead: task count, executor CPU, input bytes
and shuffle bytes are properties of the executed plan, not of ambient
load. This tool runs each named query N times (after a warm pass)
against a session with event logging enabled, labels every run via
``setJobDescription`` and aggregates the Spark event log per label.

Usage:
    python tools/metrics_probe.py QUERY [QUERY ...] [--runs 2]
        [--sf DIR] [--json OUT]

Output: one human table per query (per-run rows + min/max spread) and a
final single-line JSON payload for machine capture.

What "duplicate concurrent evaluation" of a lazily checkpointed
relation looks like here: task count and executor CPU far above the
single-evaluation expectation, typically with input bytes scaled by the
number of racing consumers — compare against a variant whose first
materializing job reads the pin on one branch only.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shelf_spark.queries import QUERIES  # noqa: E402
from shelf_spark.session import get_spark  # noqa: E402


def _spark_with_eventlog(event_dir: str):
    """``get_spark()`` plus event logging. The event-log confs are static,
    so they cannot be applied by tune() to an existing session; they ride
    ``PYSPARK_SUBMIT_ARGS`` into the JVM that ``get_spark`` starts."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        # Spark 4 defaults to rolling zstd event logs; a single plain
        # JSON-lines file keeps the parser dependency-free.
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    submit = [arg for k, v in confs.items() for arg in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return get_spark("shelf-spark-metrics-probe")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parse_event_log(event_dir: str) -> dict[str, dict]:
    """Aggregate task metrics per job-description label.

    Jobs carry the label in SparkListenerJobStart properties. A stage id
    can be listed by several jobs (a later job lists an already computed
    shuffle stage as a skipped parent; under AQE each query stage runs as
    its own job), so a stage's tasks are credited to the job that
    *submitted* it: when SparkListenerStageSubmitted arrives, the most
    recently started job that is still running and lists the stage (the
    DAG scheduler submits a job's missing stages in the same event-loop
    turn that posts its JobStart).
    """
    per_label: dict[str, dict] = {}
    running: dict[int, set[int]] = {}
    job_label: dict[int, str] = {}
    stage_label: dict[tuple[int, int], str] = {}
    paths = []
    for root, _dirs, files in os.walk(event_dir):
        paths.extend(os.path.join(root, f) for f in files)
    for path in sorted(paths):
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
                    label = (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )
                    if label:
                        job_label[job] = label
                        per_label.setdefault(label, _zero())["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    running.pop(ev["Job ID"], None)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    listing = [j for j, stages in running.items() if sid in stages]
                    label = job_label.get(max(listing)) if listing else None
                    if label:
                        stage_label[(sid, info.get("Stage Attempt ID", 0))] = label
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(
                        (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
                    )
                    if label is None:
                        continue
                    agg = per_label.setdefault(label, _zero())
                    tm = ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    agg["cpu_sec"] += tm.get("Executor CPU Time", 0) / 1e9
                    agg["run_sec"] += tm.get("Executor Run Time", 0) / 1e3
                    agg["input_mb"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    ) / 1e6
                    srm = tm.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read_mb"] += (
                        srm.get("Remote Bytes Read", 0)
                        + srm.get("Local Bytes Read", 0)
                    ) / 1e6
                    agg["shuffle_write_mb"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0) / 1e6
                    agg["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return per_label


def _zero() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "cpu_sec": 0.0,
        "run_sec": 0.0,
        "input_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
    }


_COLS = (
    "tasks",
    "cpu_sec",
    "run_sec",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None, help="also write payload to this path")
    args = ap.parse_args()

    for name in args.queries:
        if name not in QUERIES:
            sys.exit(f"unknown query: {name}")

    event_dir = tempfile.mkdtemp(prefix="shelf-metrics-")
    spark = _spark_with_eventlog(event_dir)
    sc = spark.sparkContext
    walls: dict[str, list[float]] = {}
    for name in args.queries:
        sc.setJobDescription(f"warm:{name}")
        _noop(QUERIES[name](spark, args.sf))
        walls[name] = []
        for r in range(args.runs):
            sc.setJobDescription(f"probe:{name}:{r}")
            t0 = time.perf_counter()
            _noop(QUERIES[name](spark, args.sf))
            walls[name].append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
    spark.stop()

    per_label = parse_event_log(event_dir)
    payload: dict[str, dict] = {}
    for name in args.queries:
        runs = [
            per_label.get(f"probe:{name}:{r}", _zero()) for r in range(args.runs)
        ]
        print(f"\n== {name} (sf={args.sf}, {args.runs} measured runs) ==")
        hdr = ("run", "jobs") + _COLS + ("wall_sec",)
        print(" ".join(f"{h:>16s}" for h in hdr))
        for r, m in enumerate(runs):
            row = [str(r), str(m["jobs"])] + [
                f"{m[c]:.2f}" if isinstance(m[c], float) else str(m[c])
                for c in _COLS
            ] + [f"{walls[name][r]:.3f}"]
            print(" ".join(f"{v:>16s}" for v in row))
        payload[name] = {
            "runs": runs,
            "wall_sec": walls[name],
            "min": {c: round(min(m[c] for m in runs), 3) for c in _COLS},
            "max": {c: round(max(m[c] for m in runs), 3) for c in _COLS},
        }

    line = json.dumps({"sf": args.sf, "metrics": payload})
    print(line)
    if args.json:
        with open(args.json, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
