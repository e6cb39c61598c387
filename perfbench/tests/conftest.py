"""A small Spark session for the benchmark's own tests.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def _spark_env():
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # Python workers import the engine by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


@pytest.fixture
def spark(_spark_env):
    """The running session; a test may stop it, and the next test gets a
    new one in the same JVM."""
    from kmeans_mapreduce_spark.session import get_spark

    return get_spark("perfbench-tests")
