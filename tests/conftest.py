from __future__ import annotations

import itertools

import pytest

from neynar_parquet_importer_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)``: ids of the Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext

    def probe(fn) -> list[int]:
        group = f"job-probe-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return probe
