"""Event-log ledger: attribution of jobs, stages and tasks to query windows."""

from __future__ import annotations

import os
import sys
import tempfile
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
from dataset import FIXTURE_DIR  # noqa: E402


def _job(jid, submit, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit, "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(sid, run_ms, cpu_ns, attempt=0, **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Stage Attempt ID": 0,
        "Task Info": {"Attempt": attempt, "Launch Time": 0, "Finish Time": run_ms + 5},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, **metrics},
    }


def _stage(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}}


def test_attribute_splits_jobs_stages_and_tasks_by_window():
    events = (
        _job(0, 1_000, 1_400, [0, 1])
        + _job(1, 1_500, 1_600, [1, 2])  # stage 1 reused: skipped here
        + _job(2, 5_000, 5_200, [3])
        + _job(3, 9_000, 9_100, [4])  # outside every window
        + [_stage(0), _stage(2), _stage(3)]
        + [_task(0, 100, 2e8), _task(0, 300, 4e8, attempt=1), _task(2, 50, 1e8)]
        + [_task(3, 10, 1e7, **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 64}})]
    )
    windows = [eventlog.Window("q1", 0.9, 2.0), eventlog.Window("q2", 4.9, 6.0)]
    ledger, unattributed = eventlog.attribute(events, windows)
    q1, q2 = ledger["q1"], ledger["q2"]
    assert unattributed == [3]
    assert (q1["spark.jobs"], q1["spark.stages"], q1["spark.tasks"]) == (2, 2, 3)
    assert q1["spark.task_retries"] == 1
    assert q1["jvm.task_run_s"] == pytest.approx(0.45)
    assert q1["jvm.task_cpu_s"] == pytest.approx(0.7)
    assert q1["spark.job_busy_s"] == pytest.approx(0.5)
    assert q1["driver.gap_s"] == pytest.approx(1.1 - 0.5)
    assert q1["stage.skew_max"] == pytest.approx(1.5)  # 300 / median(100, 300)
    assert q1["spark.sched_delay_s"] == pytest.approx(0.015)
    assert (q2["spark.jobs"], q2["spark.tasks"], q2["shuffle.write_bytes"]) == (1, 1, 64)


def test_gdpr_forget_sweep_jobs_match_job_id_range(tmp_path, monkeypatch):
    """Every job the query submits, pool-thread jobs included, falls in its
    window: the attributed count equals the count by job-id range between
    two marker jobs run just before and just after it."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    from arrowhouse_spark import suite
    from arrowhouse_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        app_name="perfbench-eventlog-test",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{log_dir}",
        },
    )
    sc = spark.sparkContext

    def marker():
        sc.setJobGroup("marker", "marker")
        sc.parallelize([0], 1).count()
        sc.setJobGroup("query", "query")

    try:
        marker()
        t0 = time.time()
        suite.queries()["gdpr_forget_sweep"](spark, FIXTURE_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        t1 = time.time()
        marker()
        app_id = sc.applicationId
    finally:
        spark.stop()
    events = eventlog.read_events(eventlog.log_files(str(log_dir), app_id))
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    markers = [
        e["Job ID"]
        for e in starts
        if (e.get("Properties") or {}).get("spark.jobGroup.id") == "marker"
    ]
    before, after = markers
    by_id_range = after - before - 1
    in_group = sum(
        (e.get("Properties") or {}).get("spark.jobGroup.id") == "query" for e in starts
    )
    ledger, unattributed = eventlog.attribute(events, [eventlog.Window("q", t0, t1)])
    assert by_id_range > 0
    assert ledger["q"]["spark.jobs"] == by_id_range
    assert sorted(unattributed) == sorted(markers)
    # pool-thread jobs carry no job group, so the group undercounts
    print(f"gdpr_forget_sweep: {by_id_range} jobs, {in_group} in the job group")
