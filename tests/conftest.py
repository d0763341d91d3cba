from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyrecount_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pyrecount-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def job_group(spark):
    """``run(group, fn) -> (fn(), job ids, task total)``: runs ``fn`` under
    Spark job group ``group`` and reports the jobs it started and the tasks
    of their stages, so tests can pin how much scheduling an operation costs."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are recorded
        tracker = sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        tasks = sum(
            tracker.getStageInfo(stage).numTasks
            for job in jobs
            for stage in tracker.getJobInfo(job).stageIds
        )
        return out, jobs, tasks

    return run


@pytest.fixture
def fetch_sleeps(monkeypatch):
    """The fetch's retry backoff, recorded in seconds instead of slept."""
    from pyrecount_spark.sources import ingest

    sleeps = []
    monkeypatch.setattr(ingest, "sleep", sleeps.append)
    return sleeps
