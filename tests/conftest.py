from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession

_job_groups = itertools.count()


@contextmanager
def spark_jobs(spark):
    """Count the Spark jobs started inside the block: they run under a
    fresh job group, read back through ``statusTracker`` once the listener
    bus drains. ``with spark_jobs(spark) as jobs: ...`` then ``jobs()``."""
    sc = spark.sparkContext
    group = f"spark-jobs-{next(_job_groups)}"
    counted: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield lambda: counted[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bbcrawl-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()
