"""Driver-canonicalizer conformance: schema-level contract checks.

The verification driver canonicalizes each result by loading it into
pandas, sorting columns by name, ``sort_values`` over every column,
then hashing cell values. Two result shapes break that pipeline even
when the values are bit-identical across engines:

1. a top-level ``array``/``map`` column in the Spark result — pandas
   materializes the cells as ndarrays, which are unhashable, so
   ``sort_values`` raises (``fn_regexp_extract_all`` once did);
2. a DuckDB oracle aggregate typed HUGEINT (``SUM`` over INTEGER and
   anything it union-promotes) — pandas gives it ``object`` dtype, so
   the value hash differs from Spark's int64 (``corpus_funnel_yield``
   once did).

These tests enforce the contract over every registered query, so the
class of bug is caught in CI before a driver run: complex values must
be stringified (``concat_ws`` / ``to_json``) in the final projection,
and oracle SUMs must be ``CAST(... AS BIGINT)``. The Spark side reads
the session's one build of each query (the ``query_record`` fixture).
"""

from __future__ import annotations

import pytest

from gpu_database_spark import registry


def _all_names():
    return sorted(registry.queries().keys())


def _oracled_names():
    return sorted(registry.oracle_sql().keys())


@pytest.mark.parametrize("name", _all_names())
def test_spark_schema_has_no_toplevel_complex_column(query_record, name):
    from pyspark.sql.types import ArrayType, MapType

    bad = [
        f.name
        for f in query_record(name).built().schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"{name}: top-level complex column(s) {bad} break the driver's "
        "pandas canonicalizer (unhashable ndarray cells) — stringify in "
        "the final projection (concat_ws / to_json)"
    )


@pytest.mark.parametrize("name", _oracled_names())
def test_oracle_dtypes_are_pandas_hashable(duck, name):
    sql = registry.oracle_sql()[name]
    rows = duck.execute(f"DESCRIBE {sql}").fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in rows
        if "HUGEINT" in typ.upper()
        or typ.upper().endswith("[]")
        or typ.upper().startswith(("MAP(", "STRUCT(", "UNION("))
    ]
    assert not bad, (
        f"{name}: oracle column(s) {bad} reach pandas as object dtype "
        "and hash-mismatch the Spark result even when values are "
        "identical — CAST sums to BIGINT / stringify lists in the SQL"
    )


def test_signed_halfup_div_identity_cross_engine(spark):
    """Regression guard for the signed-quotient class: the
    (2u+c) div (2c) half-up identity applied to |u| with the sign
    reattached must equal half-away-from-zero rounding of u/c in BOTH
    engines, including negative sums, zero, and exact half-boundaries.
    The guard matters twice over: the identity itself only holds for
    u >= 0 (an unguarded negative quotient is NOT the half-up value),
    and integer-division semantics for negative operands are engine-
    and version-dependent (floor vs truncate — this DuckDB build
    truncates like Spark, but the docs reserve floor semantics)."""
    import duckdb

    # micro-unit numerators spanning signs and exact halves: u/c at
    # c=8 gives .5-boundary quotients; 1e6 scaling mirrors prod use
    cases = [(u, c) for u in (-1000001, -500000, -4, -3, 0, 3, 4, 500000, 999999)
             for c in (1, 2, 7, 8)]

    def py_half_away(u: int, c: int) -> int:
        q, r = divmod(abs(u), c)
        v = q + (1 if 2 * r >= c else 0)
        return -v if u < 0 else v

    con = duckdb.connect()
    for u, c in cases:
        expect = py_half_away(u, c)
        got_d = con.execute(
            f"SELECT CASE WHEN {u} < 0 THEN -1 ELSE 1 END"
            f" * ((2 * ABS(CAST({u} AS HUGEINT)) + {c}) // (2 * {c}))"
        ).fetchone()[0]
        assert int(got_d) == expect, (u, c, got_d, expect)
    rows = spark.sql(
        "SELECT u, c, CASE WHEN u < 0 THEN -1 ELSE 1 END"
        " * ((2 * ABS(CAST(u AS DECIMAL(38,0))) + c) div (2 * c)) AS v"
        " FROM VALUES "
        + ", ".join(f"({u}, {c})" for u, c in cases)
        + " AS t(u, c)"
    ).collect()
    for r in rows:
        assert int(r.v) == py_half_away(r.u, r.c), (r.u, r.c, r.v)

    # and the UNGUARDED form must be shown to break the ROUNDING
    # SEMANTICS on a negative sum — documenting why the guard exists:
    # u=-3, c=2 -> u/c = -1.5, half-away = -2, but (2u+c) div (2c)
    # = -4 div 4 = -1 in both engines (and would be -1 vs -1 or -1 vs
    # 0 depending on each engine's floor-vs-truncate choice)
    u, c = -3, 2
    duck_unguarded = con.execute(
        f"SELECT (2 * CAST({u} AS HUGEINT) + {c}) // (2 * {c})"
    ).fetchone()[0]
    spark_unguarded = spark.sql(
        f"SELECT (2 * CAST({u} AS DECIMAL(38,0)) + {c}) div (2 * {c}) AS v"
    ).collect()[0].v
    assert int(duck_unguarded) != py_half_away(u, c)
    assert int(spark_unguarded) != py_half_away(u, c)
