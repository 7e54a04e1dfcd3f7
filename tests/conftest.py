import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pywrangler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        "pywrangler_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture
def persistent_rdds(spark):
    """Callable returning the ids of the RDDs the session has persisted
    right now — diff two snapshots to see what one call cached."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet().toArray())
