import uuid

import pytest

from inferdb_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("inferdb-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def job_count(spark):
    """job_count(fn) -> number of Spark jobs fn() submits, counted through
    a job group of its own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobcount-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
