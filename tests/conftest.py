from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("quickner-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


@pytest.fixture
def job_ids(spark):
    """``job_ids()`` -> ids of the Spark jobs the session has run so far.
    The status store is filled from the listener bus asynchronously, so
    the bus is drained first; a set difference around a call counts the
    jobs it ran (the store keeps the latest ``spark.ui.retainedJobs``)."""
    sc = spark.sparkContext._jsc.sc()

    def ids() -> set[int]:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}
    return ids
