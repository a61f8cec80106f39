import contextlib
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inferdf_rs_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # small parallelism for fast test startup/shuffles
    s = get_spark(app_name="inferdf_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` sets ``jobs.n`` to the number of
    Spark jobs submitted inside the block (tagged with a fresh job group,
    counted once the listener bus has delivered every job-start event)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"count-jobs-{uuid.uuid4().hex}"
        jobs = types.SimpleNamespace(n=None)
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))

    return count
