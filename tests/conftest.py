from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import SparkSession

from tree_sitter_codeviews_spark import driver_arm
from tree_sitter_codeviews_spark.session import driver_memory


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("tscv-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def distributed_arm(monkeypatch):
    """Context manager that forces every size-adaptive operator called
    inside it onto its distributed loop (the driver-arm probe finds every
    input too large): ``with distributed_arm(): ...``."""

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(driver_arm, "collect_if_small", lambda df, cap: None)
            yield

    return forced


@pytest.fixture
def spark_jobs(spark):
    """Context manager that lists the Spark jobs started inside it:
    ``with spark_jobs() as ids: ...``, then ``assert ids == []``."""

    @contextlib.contextmanager
    def started():
        sc = spark.sparkContext
        group = f"test-jobs-{id(started)}"
        ids: list[int] = []
        sc.setJobGroup(group, "jobs started by the test block")
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return started


SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_tiny() -> str:
    return SF_TINY


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL
