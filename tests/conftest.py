import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("pywrangler_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # mirror get_spark(): honor sortBy order of bucketed tables
        # (the bucket writer guarantees one file per bucket)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture
def persistent_rdds(spark):
    """Callable returning the ids of the RDDs the session has persisted
    right now — diff two snapshots to see what one call cached."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet().toArray())
