"""Offline parser for an uncompressed Spark event log.

Every task is attributed to its job (job -> its stages -> their tasks),
and every job carries the job group the benchmark set before it ran (a
query or cycle step x phase) and its submission time. The parser sums,
per job, the task metrics Spark reports at task end, and the SQL metrics
of the Python nodes (data sent to and returned from Python workers).
"""

from __future__ import annotations

import json
import os

PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")
FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "scheduler_delay_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "python_mb",
)
_MB = 1024.0 * 1024.0


class Job:
    __slots__ = ("group", "submit_s", "figures")

    def __init__(self, group: str, submit_s: float):
        self.group = group
        self.submit_s = submit_s
        self.figures = dict.fromkeys(FIELDS, 0.0)
        self.figures["jobs"] = 1.0


def _log_files(path: str) -> list[str]:
    """A single log file, or the parts of the logs under a directory in
    order: Spark's rolling logs are ``eventlog_v2_<app>/events_<n>_<app>``
    beside status markers and checksum files, which are skipped."""
    if not os.path.isdir(path):
        return [path]
    parts = []
    for d, _, names in os.walk(path):
        for name in names:
            if name.startswith("events_"):
                parts.append((d, int(name.split("_")[1]), os.path.join(d, name)))
            elif not name.startswith((".", "appstatus_")) and "eventlog_v2_" not in d:
                parts.append((d, 0, os.path.join(d, name)))
    return [f for _, _, f in sorted(parts)]


def parse(path: str) -> list[Job]:
    """Every job in the event log file, or in the logs under ``path``."""
    files = _log_files(path)
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for fname in files:
        with open(fname, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(props.get("spark.jobGroup.id") or "", ev["Submission Time"] / 1e3)
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job.figures["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is not None:
                        _add_task(job.figures, ev)
    return list(jobs.values())


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    acc["executor_run_s"] += run_ms / 1e3
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    # the Spark UI's scheduler delay: task duration not spent deserializing,
    # running, serializing the result or fetching it
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    delay = duration - run_ms - m.get("Executor Deserialize Time", 0) - m.get(
        "Result Serialization Time", 0
    ) - info.get("Getting Result Time", 0)
    acc["scheduler_delay_s"] += max(delay, 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
    acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
    for a in info.get("Accumulables", ()):
        if a.get("Name") in PYTHON_METRICS:
            acc["python_mb"] += float(a.get("Update", 0) or 0) / _MB


def total(jobs: list[Job], keep) -> dict[str, float]:
    """Sum the figures of every job for which ``keep(job)`` holds."""
    acc = dict.fromkeys(FIELDS, 0.0)
    for job in jobs:
        if keep(job):
            for k, v in job.figures.items():
                acc[k] += v
    return acc
