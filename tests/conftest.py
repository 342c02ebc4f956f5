from __future__ import annotations

import os

import pytest

from postgres_etl_pipeline_spark.session import build_session

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MED = os.environ.get("SPARK_GRAFT_SF_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(action)``: the number of Spark jobs ``action()``
    launches, counted under a private job group so stream queries running
    beside the test never count."""
    sc = spark.sparkContext
    group = "test-job-probe"

    def count(action) -> int:
        sc.setJobGroup(group, "job probe")
        try:
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            action()
            return len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return count
