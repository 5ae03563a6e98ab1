from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from firmable_company_data_pipeline_spark import get_spark

    s = get_spark("firmable-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def jobs_during(spark):
    """``jobs_during(fn)`` calls ``fn()`` and returns how many Spark jobs
    it started, counted under a private job group — e.g. the driver-side
    jobs a query function runs while it BUILDS its DataFrame (eager
    checkpoints, count() fills, schema inference), before any action."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-during-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs_during")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        # the status tracker learns of jobs through the listener bus;
        # drain it so a job that just ended is never missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
