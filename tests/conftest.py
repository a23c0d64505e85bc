from __future__ import annotations

import os

import pytest

from peerdb_cdc_psql_psql_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("engine-tests", cpus=4, shuffle_partitions=4)
    yield spark


def count_jobs(spark, fn):
    """Run ``fn()`` and return ``(result, n)``, where ``n`` is the
    number of Spark jobs it launched from this thread (counted under a
    fresh job group through the status tracker, so it works with the
    UI disabled)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return ORACLE_SF_DIR


@pytest.fixture(autouse=True)
def _no_leaked_streams():
    """Cascade guard (r12): a single slow availableNow drain that blows
    a test's awaitTermination timeout used to leave its named
    StreamingQuery active, and every later test starting the same
    query name ('Cannot start query ... already active') failed with
    it — one host hiccup read as six failures. Any stream still active
    when a test ends is a bug in THAT test alone; stop it here so the
    blast radius stays one test."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    for q in s.streams.active:
        try:
            q.stop()
            q.awaitTermination(timeout=30)
        except Exception:  # noqa: BLE001 — best-effort cleanup
            pass
