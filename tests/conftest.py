import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataforge_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def persisted_rdd_ids(spark):
    """Ids of the RDDs the SparkContext holds persisted right now. A leak
    check compares these sets, not their sizes: RDDs that other tests
    left persisted can be freed while a test runs."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def count_jobs(spark, action):
    """Run ``action()`` under a job group of its own and return how many
    Spark jobs it started."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("dataforge_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def customer(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    # events.parquet carries nanosecond timestamps; the parquet reader
    # confs handling them are pinned in get_spark() at session build so
    # every fixture sees identical reader settings regardless of
    # instantiation order (see __spark_entry__._events).
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes).get("ts")
    if ts_type == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
    elif ts_type == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")
