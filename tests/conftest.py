from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mlops_pipelines_featurestore_gcp_spark import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Modest parallelism keeps test startup fast on the shared box.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``run(fn)`` → ``(fn(), ids of the Spark jobs it started)``, counted
    through a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-jobs-{random.getrandbits(64):x}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM
