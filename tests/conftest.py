import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from time_series_spark_spark.session import get_spark

    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture()
def tiny_batches(spark):
    """7-row Arrow batches, so packed groups straddle batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield spark
    spark.conf.set(key, old)
