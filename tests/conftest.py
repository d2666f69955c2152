import os
import sys
import uuid

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ukis_pysat_spark import datagen  # noqa: E402
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


def images_pdf(ids, seed: int = 42, profile: str = "mixed", fmt: str = "raw",
               skew_frac: float = 0.0) -> pd.DataFrame:
    """gen_images' rows for `ids`, computed on the driver."""
    return pd.DataFrame(
        [datagen.image_row(int(i), seed, profile, fmt, skew_frac) for i in ids]
    )


def aois_pdf(ids, seed: int = 43, skew_frac: float = 0.0) -> pd.DataFrame:
    """gen_aois' rows for `ids`, computed on the driver."""
    return pd.DataFrame([datagen.aoi_row(int(i), seed, skew_frac) for i in ids])


def psnr(reference: np.ndarray, test: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf when identical): the
    measure of the lossy-codec pixel-fidelity gate (PSNR >= 40 dB).
    Peak = dynamic range of the reference array."""
    ref = reference.astype(np.float64)
    mse = float(np.mean((ref - test.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    peak = float(ref.max() - ref.min())
    if peak <= 0:
        peak = 1.0
    return 10.0 * np.log10(peak * peak / mse)
