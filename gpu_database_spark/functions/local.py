"""Driver-built frames as Arrow ``LocalRelation``s.

``spark.createDataFrame(list_of_tuples, schema)`` in classic PySpark
pickles the rows into an RDD (a ``LogicalRDD`` leaf), so every action
on the frame runs a Spark job just to ship a few kilobytes the driver
already holds. Handing the same rows over as a ``pyarrow.Table`` lets
Spark plan them as a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
default): collecting it is then served on the driver with no job.
Broadcasting one is not free: ``BroadcastExchangeExec`` collects its
child through ``executeCollectIterator``, which ``LocalTableScanExec``
does not override (Spark 4.1.2), so a broadcast of a ``LocalRelation``
still runs a small job (4 tasks on ``local[4]``). Above the threshold
Spark falls back to an RDD on its own, with the same rows.

A frame built here keeps its Arrow table: :func:`local_rows` hands it
back, so a driver-side consumer reads the rows without a collect.

The Arrow path needs no session conf: it does not depend on
``spark.sql.execution.arrow.pyspark.enabled``.
"""

from __future__ import annotations

import copy
from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


@lru_cache(maxsize=32)
def _parse_ddl(ddl: str) -> tuple[StructType, pa.Schema]:
    """``StructType.fromDDL`` is a JVM round trip (~5 ms); the repo
    passes a handful of constant DDL strings, so parse each once.
    Callers copy the ``StructType`` before handing it out: a
    DataFrame's ``.schema`` is the object it was built with."""
    schema = StructType.fromDDL(ddl)
    return schema, to_arrow_schema(schema)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a DataFrame
    planned as a ``LocalRelation``.

    ``schema`` is a DDL string or a ``StructType``; the result's schema,
    nullability included, equals ``spark.createDataFrame(rows, schema)``'s.
    """
    if isinstance(schema, str):
        parsed, arrow_schema = _parse_ddl(schema)
        schema = copy.deepcopy(parsed)
    else:
        arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    df = spark.createDataFrame(table, schema)
    # On the DataFrame object: the rows go when the frame does, and a
    # derived frame (a new object) never carries them.
    df._local_rows = table
    return df


def local_rows(df: DataFrame) -> pa.Table | None:
    """The Arrow table ``df`` was built from, if :func:`local_frame`
    built it; ``None`` for every other frame, including frames derived
    from a local one (their rows may differ)."""
    # vars(), not getattr: DataFrame.__getattr__ resolves unknown names
    # as columns, which is a JVM round trip.
    return vars(df).get("_local_rows")
