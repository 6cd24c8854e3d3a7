"""Shared fixtures: one SparkSession per test session, sf0.001 data, and
one build of each registered query (``query_record``)."""

from __future__ import annotations

import dataclasses
import os
import sys

import pytest
from pyspark.sql.types import StructType

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


@dataclasses.dataclass(frozen=True)
class QueryRecord:
    """What one build of a registered query showed. It stores answers,
    not the DataFrame, so a later ``release_all`` cannot invalidate it."""

    schema: StructType | None = None
    plan: str = ""
    build_error: Exception | None = None
    oracle_error: Exception | None = None

    def built(self) -> QueryRecord:
        if self.build_error is not None:
            raise self.build_error
        return self

    def assert_oracle_matches(self) -> None:
        if self.built().oracle_error is not None:
            raise self.oracle_error


@pytest.fixture(scope="session")
def query_record(spark, sf_dir, duck):
    """``query_record(name)`` builds registered query ``name`` once per
    test session and returns its :class:`QueryRecord`: the schema, the
    simple plan and, for oracled names, the outcome of the DuckDB
    oracle compare. A build of a loop query runs its jobs, so the
    registry-wide tests share one build instead of rebuilding. Records
    are made on first request, so ``-k`` on one name builds one query;
    a build or oracle error is stored and re-raised by each reader."""
    from gpu_database_spark import registry
    from gpu_database_spark.functions.materialize import release_all
    from gpu_database_spark.plans import inspect
    from tests.oracle_utils import assert_query_matches_oracle

    qs, oracles = registry.queries(), registry.oracle_sql()
    records: dict[str, QueryRecord] = {}

    def build(name: str) -> QueryRecord:
        try:
            df = qs[name](spark, sf_dir)
            schema, plan = df.schema, inspect.simple_plan(df)
        except Exception as err:
            err.add_note(f"while building registered query {name!r}")
            return QueryRecord(build_error=err)
        try:
            if name in oracles:
                assert_query_matches_oracle(df, duck, oracles[name], name=name)
        except Exception as err:
            return QueryRecord(schema, plan, oracle_error=err)
        return QueryRecord(schema, plan)

    def record(name: str) -> QueryRecord:
        if name not in records:
            try:
                records[name] = build(name)
            finally:
                release_all(spark)
        return records[name]

    return record


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
