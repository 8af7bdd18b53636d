import os
import sys

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
