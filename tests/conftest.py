"""Shared fixtures: one SparkSession per test session, sf0.001 data."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from gpu_database_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = get_spark(app_name="gpu-database-spark-tests", master=f"local[{cpus}]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the fixture tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture
def job_group(spark):
    """``with job_group() as jobs:`` runs the body in a fresh Spark job
    group; ``jobs()`` returns how many jobs the group has launched so
    far (listener bus drained first, so none is missed)."""
    import contextlib
    import uuid

    sc = spark.sparkContext

    @contextlib.contextmanager
    def group():
        gid = f"test-{uuid.uuid4().hex}"

        def jobs() -> int:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(gid))

        sc.setJobGroup(gid, gid)
        try:
            yield jobs
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)

    return group
