"""Central registry of declared queries + DuckDB oracle SQL.

Every operator the engine claims (SURVEY.md §2) registers here with
``@register("name", oracle="SELECT ...")``; ``__spark_entry__.py``
re-exports :func:`queries` / :func:`oracle_sql` for the verification
driver. Queries with no SQL-expressible oracle (custom stateful
streaming, iterative algorithms, approximate ops) register with
``oracle=None`` and get the driver's weaker rows-only check.

Oracle-compat rules used throughout (hash-match discipline):
* alias every computed column identically in Spark and SQL;
* double-typed aggregates go through exact DECIMAL(27,6) sums and a
  final cast to DOUBLE (order-independent, bit-identical across
  engines) — see ``functions/compat.py``;
* timestamps are emitted as epoch micro/seconds BIGINT or formatted
  strings, never raw (dodges ns-vs-us and tz representation drift);
* every ORDER BY / top-k has a total tiebreak so LIMIT is stable.
"""

from __future__ import annotations

import glob
import json
import os
import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_LOADED = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: declare a query (and optionally its DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = textwrap.dedent(oracle).strip()
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for their registration side effects.
    from gpu_database_spark.operators import (  # noqa: F401
        aggregates,
        analytics,
        aria_queries,
        asof,
        behavior,
        dataquality,
        extras,
        joins,
        maintenance,
        relational,
        setops,
        skyline,
        sorts,
        sql_surface,
        stattests,
        tpch,
        windows,
    )
    from gpu_database_spark.functions import scalars  # noqa: F401
    from gpu_database_spark.llm import (  # noqa: F401
        curation,
        dedup,
        features,
        filtering,
        graphrank,
        multimodal,
        sampling,
        similarity,
        textstats,
    )
    from gpu_database_spark.streaming import batch_equiv  # noqa: F401

    _LOADED = True


def _driver_history() -> dict[str, int]:
    """Name -> latest round with a green driver row.

    The verification driver samples the first 50 keys of ``queries()``
    and writes its evidence to ``CORRECTNESS_r{N}.json`` at the repo
    root. A row counts only if it passed (no error, rows and hash
    matched), so a name whose last sample failed is treated as never
    checked and gets re-verified. ``no_oracle`` is the terminal state
    of a rows-only query, so it counts as checked, unless the query has
    since gained an oracle and must earn a real oracled row.
    """
    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json")):
        base = os.path.basename(path)
        try:
            rnd = int(base[len("CORRECTNESS_r"):-len(".json")])
        except ValueError:
            rnd = 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                latest[name] = max(latest.get(name, 0), rnd)
                continue
            err = row.get("err")
            if err == "no_oracle":
                if name not in _ORACLES:
                    latest[name] = max(latest.get(name, 0), rnd)
                continue
            if err:
                continue
            if row.get("rows_match") is False or row.get("hash_match") is False:
                continue
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def queries() -> dict[str, QueryFn]:
    """All registered queries, ordered for the driver's sample window.

    Names with no green driver row come first (oracled before
    rows-only), then checked names oldest green round first, so the
    window re-verifies the stalest rows once everything has one. Ties
    keep registration order. Only iteration order depends on the
    history; the dict's contents never do.
    """
    _load_all()
    history = _driver_history()

    def sort_key(name: str) -> tuple[int, int]:
        if name not in history:
            return (0, name not in _ORACLES)
        return (1, history[name])

    # sorted() is stable, so ties keep registration order.
    return {name: _QUERIES[name] for name in sorted(_QUERIES, key=sort_key)}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)
