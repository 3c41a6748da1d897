import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmcha_spark.fixtures import (  # noqa: E402
    ensure_fixtures,
    replication_fixture,
)

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="session")
def data_dir() -> str:
    return ensure_fixtures(DATA_DIR)


@pytest.fixture(scope="session")
def replication_gz(data_dir) -> str:
    """The generated 245.osm.gz replication file (25 changesets)."""
    return replication_fixture(data_dir)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("osmcha-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def tables(spark, data_dir):
    out = {}
    for name in ("changesets", "actions", "users", "aoi"):
        out[name] = spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))
    return out
