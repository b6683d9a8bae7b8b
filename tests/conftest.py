import itertools

import pytest

from wbkg.session import get_spark

_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wbkg-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def job_count(spark):
    """job_count(fn) -> (fn(), the number of Spark jobs fn started), read
    from the status tracker under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"wbkg-test-jobs-{next(_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
