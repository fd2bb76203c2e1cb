from __future__ import annotations

import pytest

from zipline_chronon_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="zcs-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), the number of Spark jobs fn started),
    counted through a job group on the calling thread."""
    import itertools

    sc = spark.sparkContext
    ids = itertools.count()

    def run(fn):
        group = f"count-jobs-{id(fn)}-{next(ids)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
