import itertools

import pytest


@pytest.fixture(scope="session")
def spark():
    from atire_spark.session import get_spark

    s = get_spark(cpus=8, app="atire_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` → (fn's result, the number of Spark jobs fn
    launched), counted through a job group and the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-jobs-{next(_job_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the tracker learns of jobs from the listener bus: drain it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
