"""Driver-built frames as Arrow ``LocalRelation``s.

``spark.createDataFrame(list_of_tuples, schema)`` in classic PySpark
pickles the rows into an RDD (a ``LogicalRDD`` leaf), so every action
on the frame, and every broadcast of it, runs a Spark job just to ship
a few kilobytes the driver already holds. Handing the same rows over
as a ``pyarrow.Table`` lets Spark plan them as a ``LocalRelation``
(below ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
default): collect and broadcast are then served on the driver with no
job. Above the threshold Spark falls back to an RDD on its own, with
the same rows.

The Arrow path needs no session conf: it does not depend on
``spark.sql.execution.arrow.pyspark.enabled``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a DataFrame
    planned as a ``LocalRelation``.

    ``schema`` is a DDL string or a ``StructType``; the result's schema,
    nullability included, equals ``spark.createDataFrame(rows, schema)``'s.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
