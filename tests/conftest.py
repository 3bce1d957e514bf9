import contextlib
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sling_cli_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` counts the Spark jobs the block
    submits (``jobs.count``), through the job group the block runs
    under and ``statusTracker``."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"spark-jobs-{uuid.uuid4().hex}"
        box = types.SimpleNamespace(count=None)
        sc.setJobGroup(group, group)
        try:
            yield box
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            # job starts reach the tracker through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            box.count = len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
