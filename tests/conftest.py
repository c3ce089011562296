from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession, tuned for small-data tests."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("outrank-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as n: ...`` fills ``n`` with the Spark jobs
    and tasks the block ran, counted the way the benchmark counts them
    (``perfbench.spark_env.JobCounter``): the block runs in its own job
    group (threads started through ``inheritable_thread_target``
    inherit it), read back from the status tracker."""
    from perfbench.spark_env import JobCounter

    return JobCounter(spark, f"counted-{next(_JOB_GROUPS)}").group
