"""Reader for Spark's own event log (uncompressed, not rolling).

Folds the task-end events of the jobs of some job groups into the
``stage.*`` per-layer metrics: executor run time, CPU time, GC time,
shuffle bytes written, bytes spilled to disk and the task skew (max ÷
median task time) of the slowest stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(log_dir: str) -> list[dict]:
    """Every event of the one finished application log in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    with open(logs[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def stage_metrics(events: list[dict], groups: set[str]) -> dict[str, float]:
    stage_ids: set[int] = set()
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") in groups:
                stage_ids.update(e.get("Stage IDs", ()))
    run_ms = gc_ms = 0
    cpu_ns = shuffle_w = spill = 0
    durations: dict[int, list[int]] = {}
    stage_wall: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_ids:
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            durations.setdefault(e["Stage ID"], []).append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
        elif ev == "SparkListenerStageCompleted":
            si = e.get("Stage Info") or {}
            if si.get("Stage ID") in stage_ids and si.get("Completion Time"):
                stage_wall[si["Stage ID"]] = si["Completion Time"] - si.get(
                    "Submission Time", si["Completion Time"]
                )
    skew = 0.0
    timed = [s for s in stage_wall if durations.get(s)]
    if timed:
        slowest = max(timed, key=stage_wall.get)
        d = durations[slowest]
        med = statistics.median(d)
        skew = max(d) / med if med > 0 else 0.0
    return {
        "stage.task_s": run_ms / 1e3,
        "stage.cpu_s": cpu_ns / 1e9,
        "stage.gc_s": gc_ms / 1e3,
        "stage.shuffle_write_bytes": float(shuffle_w),
        "stage.spill_bytes": float(spill),
        "stage.task_skew": skew,
    }
