import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running full-oracle sweeps"
    )


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("similarities-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def spark_tail():
    """Force a query engine onto its distributed scoring tail by patching
    the engine's private in-process gate; returns the engine."""

    def force(engine):
        engine._score_in_process = lambda candidates: False
        return engine

    return force


@pytest.fixture
def run_released(spark):
    """Check that nothing of a finished (or failed) build, merge or compact
    call outlives it: no cached frame in Spark's CacheManager and no live
    async writer thread. Tests clear the cache before the call."""

    def check():
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        alive = {t.name for t in threading.enumerate() if t.is_alive()}
        assert not alive & {"docs-write", "blocks-write"}

    return check
