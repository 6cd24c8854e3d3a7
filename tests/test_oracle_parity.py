"""Drive every registered oracle-checkable query through the same
Spark-vs-DuckDB compare the verification driver performs (sf0.001).

The compare runs once per query per session, inside the
``query_record`` fixture; these tests read its outcome."""

from __future__ import annotations

import pytest

from gpu_database_spark import registry


def _names():
    return sorted(registry.oracle_sql().keys())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(query_record, name):
    query_record(name).assert_oracle_matches()


def test_every_query_has_runnable_entry(query_record):
    qs = registry.queries()
    assert qs, "no queries registered"
    for name in qs:
        assert query_record(name).built().schema.names, (
            f"{name} returned no columns"
        )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
