"""Traced-run parser: Spark's own event log plus the benchmark's spans.

The traced phase runs with ``spark.eventLog.enabled=true`` (uncompressed);
Spark 4 writes ``eventlog_v2_<app id>/events_<n>_<app id>`` files of one
JSON event per line. This module folds them into per-job records —
job group, submit/end time, task count, executor run time, shuffle and
spill bytes, and the Python-worker SQL metrics of the job's tasks — and
into the per-execution driver-side SQL metrics (partitions a scan read).
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

PY_TIME = "time to run Python workers"  # ms, per task
PY_SENT = "data sent to Python workers"  # bytes
PY_BACK = "data returned from Python workers"  # bytes
PARTS_READ = "number of partitions read"  # driver-side scan metric


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    submit_ms: float
    end_ms: float = 0.0
    execution: int | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_ms: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_ms: float = 0.0
    arrow_bytes: float = 0.0


@dataclass
class EventLog:
    jobs: list[Job]
    # execution id -> {metric name: summed driver-side value}
    driver_metrics: dict[int, dict[str, float]]


def _files(log_dir: str, app_id: str) -> list[str]:
    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    found = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    found += glob.glob(os.path.join(log_dir, app_id))  # single-file layout
    if not found:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    return sorted(found, key=index)


def _walk_metrics(plan: dict, names: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _walk_metrics(child, names)


def parse(log_dir: str, app_id: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    accum_names: dict[int, str] = {}
    driver: dict[int, dict[str, float]] = {}
    for path in _files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    job = Job(
                        job_id=e["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        call_site=props.get("callSite.short", ""),
                        submit_ms=e["Submission Time"],
                        execution=int(ex) if ex is not None else None,
                        stages=list(e["Stage IDs"]),
                    )
                    jobs[job.job_id] = job
                    for s in job.stages:
                        stage_job[s] = job
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if job is None or tm is None:
                        continue
                    job.tasks += 1
                    job.run_ms += tm["Executor Run Time"]
                    job.shuffle_bytes += tm["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"
                    ]
                    job.spill_bytes += (
                        tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    )
                    for acc in e["Task Info"].get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PY_TIME:
                            job.python_ms += float(acc.get("Update", 0))
                        elif name in (PY_SENT, PY_BACK):
                            job.arrow_bytes += float(acc.get("Update", 0))
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _walk_metrics(e["sparkPlanInfo"], accum_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    per = driver.setdefault(e["executionId"], {})
                    for acc_id, value in e["accumUpdates"]:
                        name = accum_names.get(acc_id)
                        if name is not None:
                            per[name] = per.get(name, 0.0) + float(value)
    return EventLog(jobs=sorted(jobs.values(), key=lambda j: j.job_id),
                    driver_metrics=driver)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def within(jobs: list[Job], start_ms: float, end_ms: float) -> list[Job]:
    """Jobs submitted inside [start_ms, end_ms]."""
    return [j for j in jobs if start_ms <= j.submit_ms <= end_ms]


def gap_ms(jobs: list[Job], start_ms: float, end_ms: float) -> float:
    """Wall time of [start_ms, end_ms] during which none of ``jobs`` ran."""
    busy = union_ms(
        [
            (max(j.submit_ms, start_ms), min(j.end_ms, end_ms))
            for j in jobs
            if j.submit_ms < end_ms and j.end_ms > start_ms
        ]
    )
    return (end_ms - start_ms) - busy
