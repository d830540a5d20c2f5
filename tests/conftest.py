from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from razulibs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("razulibs-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def no_cached_plans():
    """Fail a test that leaves a cached plan in the shared session: a
    leaked CacheManager entry changes the plans (and timings) of every
    later test. The cache is cleared before failing, so one leak cannot
    cascade. Tests that never started Spark are not checked, and the
    check never starts it."""
    yield
    session = SparkSession._instantiatedSession
    if session is None:
        return
    if not session._jsparkSession.sharedState().cacheManager().isEmpty():
        session.catalog.clearCache()
        pytest.fail("test left cached plans in the shared Spark session", pytrace=False)
