"""Spark event-log reader: per-job-group job intervals and task totals.

Reads the JSON-lines log Spark writes when ``spark.eventLog.enabled`` is on.
Each job is attributed to the ``spark.jobGroup.id`` it was started under;
each stage to the first job that lists it (later jobs list reused stages as
skipped parents); each task to its stage's job."""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_COUNTERS = (
    "stages",
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
)


@dataclass
class GroupStats:
    """What the jobs of one job group did."""

    intervals: list = field(default_factory=list)  # (submit_ms, end_ms) per job
    counters: dict = field(default_factory=lambda: dict.fromkeys(_COUNTERS, 0))

    @property
    def jobs(self) -> int:
        return len(self.intervals)


def _task_counters(metrics: dict) -> dict:
    shuffle_read = metrics.get("Shuffle Read Metrics", {})
    return {
        "tasks": 1,
        "task_run_ms": metrics.get("Executor Run Time", 0),
        "task_cpu_ms": metrics.get("Executor CPU Time", 0) / 1e6,
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": metrics.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        ),
        "input_bytes": metrics.get("Input Metrics", {}).get("Bytes Read", 0),
    }


def read(lines) -> dict[str, GroupStats]:
    """Group stats keyed by job group; jobs without a group go under ``""``."""
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_submit[job] = ev["Submission Time"]
            for stage in ev["Stage IDs"]:
                stage_job.setdefault(stage, job)
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            stats = out.setdefault(job_group[job], GroupStats())
            stats.intervals.append((job_submit[job], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job is not None:
                out.setdefault(job_group[job], GroupStats()).counters["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job is None:
                continue
            counters = out.setdefault(job_group[job], GroupStats()).counters
            for key, value in _task_counters(ev.get("Task Metrics") or {}).items():
                counters[key] += value
    return out


def read_file(path: str) -> dict[str, GroupStats]:
    with open(path) as f:
        return read(f)
