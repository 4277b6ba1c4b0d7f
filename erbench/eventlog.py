"""Reduce Spark's uncompressed event log to per-window counters.

Spark 4 writes a rolling log directory ``eventlog_v2_<app>/events_<n>_<app>``
(``spark.eventLog.compress=false`` keeps it plain JSON lines). Jobs are
attributed to a time window by their submission time, not by job group:
the program's fold thread pools submit jobs without one. Stages belong
to the first job that lists them, and tasks to their stage, so a task
is counted in the window its job was submitted in.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
    "output_bytes", "spill_bytes",
)


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    stage_ids: list[int]
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def log_files(eventlog_dir: str) -> list[str]:
    """The event files of every application under ``eventlog_dir``, in
    write order (rolling index)."""
    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = []
    for app in sorted(glob.glob(os.path.join(eventlog_dir, "eventlog_v2_*"))):
        files += sorted(glob.glob(os.path.join(app, "events_*")), key=index)
    if not files:
        raise FileNotFoundError(f"no rolling event log under {eventlog_dir}")
    return files


_WANTED = ('"SparkListenerJobStart"', '"SparkListenerTaskEnd"',
           '"SparkListenerStageCompleted"')


def read_jobs(eventlog_dir: str) -> list[Job]:
    """Every job in the log with its tasks' counters folded in."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in log_files(eventlog_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                # skip the (large) SQL plan events without parsing them
                if not any(w in line[:60] for w in _WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"],
                              list(ev.get("Stage IDs", ())))
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    if jid is not None:
                        jobs[jid].counters["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if jid is None or not metrics:
                        continue
                    _add_task(jobs[jid].counters, metrics)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _add_task(c: dict, m: dict) -> None:
    c["tasks"] += 1
    c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0)
    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)


def window_counters(jobs: list[Job], start_s: float, end_s: float) -> dict:
    """Counters summed over the jobs submitted in ``[start_s, end_s)``
    (epoch seconds, the clock Spark stamps submission times with)."""
    out = dict.fromkeys(COUNTERS, 0)
    lo, hi = start_s * 1e3, end_s * 1e3
    for job in jobs:
        if lo <= job.submitted_ms < hi:
            out["jobs"] += 1
            for k in COUNTERS[1:]:
                out[k] += job.counters[k]
    return out
