"""functions.local.local_frame: driver rows as an Arrow LocalRelation.

The helper must be a drop-in for ``createDataFrame(rows, schema)`` on
the Aria frames (same schema, nullability and rows) that Spark plans
as a ``LocalRelation``, so collecting it launches no Spark job.
"""

from __future__ import annotations

import pytest

from gpu_database_spark import gen
from gpu_database_spark.functions.local import local_frame, local_rows

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"

# (DDL, rows) for every frame the Aria path builds on the driver.
CASES = {
    "ops": (
        "txn_id long, op_idx int, key long, is_update boolean",
        gen.transactions_local(batch_size=20, max_ops=5, keys_max=30, seed=3),
    ),
    "ops_nulls": (
        "txn_id long, op_idx int, key long, is_update boolean",
        [(1, 0, None, True), (2, None, 7, None), (None, 1, 2, False)],
    ),
    "kv": ("key long, value string", [(1, "a"), (2, None), (3, "")]),
    "committed": ("txn_id long", [(1,), (4,), (9,)]),
    "aborted": ("txn_id long, _new_tid long", [(3, 1), (8, 2)]),
}
EMPTY = {f"{name}_empty": (ddl, []) for name, (ddl, _) in CASES.items()}


def _plan_leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("ddl,rows", list({**CASES, **EMPTY}.values()),
                         ids=list({**CASES, **EMPTY}))
def test_matches_create_dataframe(spark, ddl, rows):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema  # StructField equality covers nullability
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


@pytest.mark.parametrize("ddl,rows", [CASES["ops"], EMPTY["ops_empty"]],
                         ids=["rows", "empty"])
def test_planned_as_local_relation(spark, ddl, rows):
    assert _plan_leaf(local_frame(spark, rows, ddl)) == "LocalRelation"


def test_collect_runs_no_job(spark, job_group):
    ddl, rows = CASES["ops"]
    df = local_frame(spark, rows, ddl)
    with job_group() as jobs:
        assert len(df.collect()) == len(rows)
        assert jobs() == 0
        # control: the list-built frame is an RDD and its collect is a job
        spark.createDataFrame(rows, ddl).collect()
        assert jobs() > 0


def test_rdd_fallback_above_threshold_keeps_rows(spark):
    ddl, rows = CASES["ops"]
    want = sorted(map(tuple, local_frame(spark, rows, ddl).collect()))
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "1")  # bytes: every non-empty frame is over
    try:
        df = local_frame(spark, rows, ddl)
        assert _plan_leaf(df) != "LocalRelation"
        assert sorted(map(tuple, df.collect())) == want
    finally:
        spark.conf.set(THRESHOLD, old)
    assert spark.conf.get(THRESHOLD) == old


def test_local_rows_only_for_the_built_frame(spark):
    """The frame local_frame built hands back its rows; a frame derived
    from it, or built any other way, holds none."""
    ddl, rows = CASES["ops"]
    df = local_frame(spark, rows, ddl)
    assert [tuple(r.values()) for r in local_rows(df).to_pylist()] == rows
    assert local_rows(df.filter("key > 3")) is None
    assert local_rows(df.select("*")) is None
    assert local_rows(spark.createDataFrame(rows, ddl)) is None
