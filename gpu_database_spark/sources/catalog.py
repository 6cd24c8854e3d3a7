"""Fixture catalog: the ten driver tables as DataFrames.

Reference parity: the reference's "catalog" is a two-level vector of
hash tables (``src/database/common/database.h:10-22``) bulk-loaded by
``DB::init_table`` (``src/database/ycsb/db.h:42-53``). Here a table is
an immutable DataFrame backed by parquet; "bulk load" is a columnar
parquet scan with pushdown — the distributed analogue.

The ``events`` table needs special handling: fixtures have shipped
``ts`` both as TIMESTAMP(NANOS) (unreadable by Spark's vectorized
reader; surfaces as epoch-nanos LongType under
``spark.sql.legacy.parquet.nanosAsLong=true``) and as plain
timestamp[us]. ``load_table`` normalizes either encoding to the
engine's two-column event-time contract: ``ts`` (TIMESTAMP_NTZ, UTC,
us precision) plus ``ts_ns`` (LongType epoch-nanos).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_database_spark.session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Parquet row-group counts per path (footer metadata, cached: the gate
# below reads it once per (process, file), ~1 ms).
_RG_CACHE: dict[str, int] = {}


def _n_row_groups(path: str) -> int:
    """Total parquet row groups behind ``path`` (file or directory).
    Unknown/unreadable footers — and directory layouts whose recursive
    glob matches NO ``*.parquet`` file (partitioned tables with other
    suffixes, manifest-format tables) — report 'many' so the spread
    gate stays a no-op rather than adding an exchange on speculation
    (ADVICE r13: an empty glob previously summed to 0 and INVERTED the
    gate at scale)."""
    n = _RG_CACHE.get(path)
    if n is None:
        try:
            import glob as _glob

            import pyarrow.parquet as _pq

            files = (
                sorted(
                    _glob.glob(
                        os.path.join(path, "**", "*.parquet"), recursive=True
                    )
                )
                if os.path.isdir(path)
                else [path]
            )
            if not files:
                n = 1 << 30  # zero matches = unknown layout: fail safe
            else:
                n = sum(
                    _pq.ParquetFile(f).metadata.num_row_groups for f in files
                )
        except Exception:
            n = 1 << 30
        _RG_CACHE[path] = n
    return n


def spread_scan(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Fan a row-group-starved scan across the cluster (guide §2.5,
    "input skew: one huge unsplittable file ... repartition immediately
    after the read").

    Parquet scans split at ROW-GROUP boundaries, so a table written as
    one row group runs its whole scan stage — plus every operator fused
    into it (partial aggregation, md5/shingle explosion, vector math) —
    on ONE core no matter how many splits the planner makes (measured:
    all 600k sf0.1 lineitem rows land in a single scan partition; a
    15-moment decimal aggregate fused into that scan takes 4.2s
    single-threaded vs 0.9s spread).

    Scale-adaptive by construction: the exchange is added ONLY when the
    source cannot yield at least half the cluster's parallelism in
    row groups. At 100 TB every table has thousands of row groups, the
    gate is false, and the plan is byte-identical to the ungated one —
    no extra network pass. The partitioner is a deterministic xxhash64
    of the full row (retry-safe per SPARK-23207 discussion: never
    rand-derived), which also avoids round-robin's local-sort tax.

    Opt-in per query (``load_table(..., spread=True)``): operators whose
    per-row work is trivial, or whose second pass relies on re-scanning
    with pushed-down filters, measure slower with the extra exchange —
    the callers that win flip the flag.

    The partitioner hashes every column of the (already projected)
    frame — pass ``columns=`` to ``load_table`` so the exchange carries
    and hashes ONLY the columns the query reads (an unprojected
    lineitem spread shuffled all 16 columns for a 4-column query).
    Caveats: all projected columns must be hashable types (no MapType),
    and fully-duplicate rows colocate, so the spread is only as even as
    the projection is distinct. Not every projection is near-unique:
    ``agg_mean_families`` spreads (l_returnflag, l_quantity), about 150
    distinct rows at every fixture scale — still several per partition
    at 32 cores, but a projection with fewer distinct rows than
    partitions would leave cores idle."""
    n_par = spark.sparkContext.defaultParallelism
    if _n_row_groups(path) >= max(2, n_par // 2):
        return df
    return df.repartition(n_par, F.xxhash64(*[F.col(c) for c in df.columns]))


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    spread: bool = False,
    columns: list[str] | None = None,
) -> DataFrame:
    """Load one fixture table; normalizes the events timestamp.

    ``columns`` projects the frame to exactly those columns BEFORE any
    ``spread`` repartition, so the exchange hashes and carries only
    what the query reads (guide §2.3 "project before the exchange" —
    the partitioner expression references every column of the frame,
    which would otherwise defeat Spark's own column pruning).

    The engine's event-time contract is two columns regardless of the
    fixture's physical encoding:

    * ``ts``    — TIMESTAMP_NTZ, microsecond precision, UTC instant.
    * ``ts_ns`` — LongType epoch-nanoseconds of the same instant.

    Fixtures have shipped ``ts`` two ways: TIMESTAMP(NANOS) (read as
    epoch-nanos LongType under ``nanosAsLong``) and TIMESTAMP(MICROS)
    (read as timestamp/timestamp_ntz). Both normalize here so every
    downstream consumer sees the same schema.
    """
    tune_session(spark)
    df = spark.read.parquet(_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # epoch-nanos long -> microsecond TIMESTAMP_NTZ (session tz is
            # UTC, so the LTZ->NTZ cast is the identity on the instant).
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts",
                F.expr("CAST(timestamp_micros(ts_ns div 1000) AS TIMESTAMP_NTZ)"),
            )
        elif ts_type in ("timestamp", "timestamp_ntz"):
            # timestamp[us] fixture: derive epoch-nanos; unix_micros needs
            # TIMESTAMP (LTZ) — the NTZ->LTZ cast is identity under UTC.
            df = df.withColumn(
                "ts_ns",
                F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
            ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        if "ts_ns" in df.columns:
            df = df.select(
                "event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props"
            )
    if columns is not None:
        df = df.select(*columns)
    if spread:
        df = spread_scan(df, spark, _path(sf_dir, name))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each fixture table as a temp view for spark.sql use."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
