"""Per-query ledger from Spark's event log.

A traced run enables ``spark.eventLog`` (uncompressed) into a directory of
the benchmark's own. Spark 4 rolls the log into ``eventlog_v2_<app>/events_*``
files.

Queries run one at a time, so a job belongs to the query whose call window
contains the job's submission time. That holds for jobs submitted from pool
threads as well, which carry no job group. Stages belong to the job that
first lists them, and tasks to their stage.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

# metric name -> unit, for every metric ``attribute`` produces per window
UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_retries": "count",
    "spark.job_busy_s": "s",
    "driver.gap_s": "s",
    "jvm.task_cpu_s": "s",
    "jvm.task_run_s": "s",
    "jvm.gc_s": "s",
    "spark.sched_delay_s": "s",
    "stage.skew_max": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "input.bytes_read": "bytes",
    "output.bytes_written": "bytes",
    "driver.result_bytes": "bytes",
}


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The rolled event-log files of one application, in write order."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")

    def index(path: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(path)).group(1))

    return sorted(files, key=index)


def read_events(paths: list[str]) -> list[dict]:
    wanted = (
        '"SparkListenerJobStart"',
        '"SparkListenerJobEnd"',
        '"SparkListenerStageCompleted"',
        '"SparkListenerTaskEnd"',
    )
    events = []
    for path in paths:
        with open(path) as f:
            for line in f:
                if any(w in line[:60] for w in wanted):
                    events.append(json.loads(line))
    return events


@dataclass
class Window:
    """One query execution: its id and wall-clock span in epoch seconds."""

    key: str
    start: float
    end: float


@dataclass
class _Job:
    id: int
    submit_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(events: list[dict], windows: list[Window]) -> tuple[dict, list[int]]:
    """Ledger per window and the ids of jobs that fell in no window.

    Returns ``({window key: {metric: value}}, unattributed job ids)``.
    """
    jobs: dict[int, _Job] = {}
    stage_job: dict[int, int] = {}
    stage_done: list[dict] = []
    tasks_by_stage: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = _Job(ev["Job ID"], ev["Submission Time"], stages=ev["Stage IDs"])
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stage_done.append(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            tasks_by_stage.setdefault(ev["Stage ID"], []).append(ev)

    ordered = sorted(windows, key=lambda w: w.start)
    job_window: dict[int, str] = {}
    unattributed = []
    for job in sorted(jobs.values(), key=lambda j: j.submit_ms):
        t = job.submit_ms / 1000.0
        hit = next((w for w in ordered if w.start <= t <= w.end), None)
        if hit is None:
            unattributed.append(job.id)
        else:
            job_window[job.id] = hit.key

    out = {w.key: dict.fromkeys(UNITS, 0) for w in windows}
    for w in windows:
        out[w.key]["stage.skew_max"] = 1.0
    spans: dict[str, list[tuple[float, float]]] = {w.key: [] for w in windows}
    bounds = {w.key: (w.start, w.end) for w in windows}
    for jid, key in job_window.items():
        job = jobs[jid]
        out[key]["spark.jobs"] += 1
        lo, hi = bounds[key]
        end = job.end_ms / 1000.0 if job.end_ms is not None else hi
        spans[key].append((max(lo, job.submit_ms / 1000.0), min(hi, end)))
    for key, sp in spans.items():
        busy = _union_s(sp)
        out[key]["spark.job_busy_s"] = busy
        lo, hi = bounds[key]
        out[key]["driver.gap_s"] = max(0.0, (hi - lo) - busy)

    for info in stage_done:
        sid = info["Stage ID"]
        key = job_window.get(stage_job.get(sid, -1))
        if key is None:
            continue
        m = out[key]
        m["spark.stages"] += 1
        attempt = info.get("Stage Attempt ID", 0)
        run_ms = []
        for ev in tasks_by_stage.get(sid, ()):
            if ev.get("Stage Attempt ID", 0) != attempt:
                continue
            _add_task(m, ev, retry=attempt > 0)
            tm = ev.get("Task Metrics") or {}
            run_ms.append(tm.get("Executor Run Time", 0))
        if len(run_ms) >= 2:
            med = statistics.median(run_ms)
            m["stage.skew_max"] = max(m["stage.skew_max"], max(run_ms) / max(med, 1))
    return out, unattributed


def _add_task(m: dict, ev: dict, retry: bool) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    m["spark.tasks"] += 1
    if retry or info.get("Attempt", 0) > 0:
        m["spark.task_retries"] += 1
    run_ms = tm.get("Executor Run Time", 0)
    deser_ms = tm.get("Executor Deserialize Time", 0)
    m["jvm.task_run_s"] += run_ms / 1000.0
    m["jvm.task_cpu_s"] += (
        tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)
    ) / 1e9
    m["jvm.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    # Spark UI's scheduler delay: task wall time not spent deserialising,
    # running, serialising the result or fetching it
    dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    other_ms = (
        run_ms
        + deser_ms
        + tm.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    m["spark.sched_delay_s"] += max(0, dur_ms - other_ms) / 1000.0
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    m["spill.bytes"] += tm.get("Disk Bytes Spilled", 0)
    m["input.bytes_read"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    m["output.bytes_written"] += (tm.get("Output Metrics") or {}).get(
        "Bytes Written", 0
    )
    m["driver.result_bytes"] += tm.get("Result Size", 0)
