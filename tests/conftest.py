import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ukis_pysat_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "perf: wall-clock ratio assertions; skippable under co-tenant "
        "CPU noise with -m 'not perf'",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ukis-pysat-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns ``(fn's result, number of Spark jobs it ran)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
