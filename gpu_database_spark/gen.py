"""Seeded workload generators mirroring the reference's YCSB model.

Reference distributions (FIXTURES.md §B):
  - kv preload: keys 1..n, 10 fields x 10 printable ASCII chars
    (db.h:42-53, random.h:33-39; key 0 reserved, hashTable.cuh:12)
  - transactions: n_ops ~ U(0, 30), keys ~ U(1, keys_max),
    is_update ~ Bernoulli(0.4)  (Transction_y.h:17-26, defaults
    Transction.h:24-33)
  - explicit seeds everywhere (random.h:15-21, cudarand.cuh:50-55) —
    reproducibility is a design goal of the reference and of these
    generators (numpy RandomState is stable across platforms).

Generation is host-side (numpy on the driver), mirroring the
reference's host-side generate(), and lands in Arrow ``LocalRelation``s
(:func:`~gpu_database_spark.functions.local.local_frame`): collecting
a generated batch runs no Spark job, and the frame keeps its rows
(:func:`~gpu_database_spark.functions.local.local_rows`), so Aria's
driver-local path reads them without a collect. Broadcasting one
still runs a small job (see functions/local.py). At bench scale
(200k rows, 150 txns) this is trivially small. For cluster-scale
synthetic data use ``kv_table_distributed`` (spark.range +
hash-derived values, no driver materialization).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_database_spark.functions.local import local_frame

PRINTABLE_LO, PRINTABLE_HI = 33, 126  # random.h:35 char range


def kv_table(spark: SparkSession, n_rows: int = 1000, seed: int = 42) -> DataFrame:
    """KV store preload: (key, value) with seeded 10x10-char values
    (10 fields concatenated; the reference's field structure collapses
    to one string since no operator addresses individual fields)."""
    rng = np.random.RandomState(seed)
    chars = rng.randint(PRINTABLE_LO, PRINTABLE_HI + 1, size=(n_rows, 100), dtype=np.int64)
    values = ["".join(map(chr, row)) for row in chars]
    rows = [(int(k), v) for k, v in zip(range(1, n_rows + 1), values)]
    return local_frame(spark, rows, "key long, value string")


def kv_table_distributed(spark: SparkSession, n_rows: int, seed: int = 42) -> DataFrame:
    """Cluster-scale preload: values derived from md5(seed, key) — fully
    distributed, no driver materialization, still deterministic."""
    return spark.range(1, n_rows + 1).select(
        F.col("id").alias("key"),
        F.md5(F.concat_ws(":", F.lit(seed), F.col("id"))).alias("value"),
    )


def transactions(
    spark: SparkSession,
    batch_size: int = 150,
    max_ops: int = 30,
    keys_max: int = 20_000,
    write_rate: float = 0.4,
    seed: int = 7,
) -> DataFrame:
    """One batch of transactions in exploded ops form
    (txn_id, op_idx, key, is_update), reference distributions."""
    return local_frame(
        spark,
        transactions_local(batch_size, max_ops, keys_max, write_rate, seed),
        "txn_id long, op_idx int, key long, is_update boolean",
    )


def transactions_local(
    batch_size: int = 150,
    max_ops: int = 30,
    keys_max: int = 20_000,
    write_rate: float = 0.4,
    seed: int = 7,
) -> list[tuple[int, int, int, bool]]:
    """Same batch as :func:`transactions`, as plain Python rows — used
    by the serial-order oracle (which replays without Spark)."""
    rng = np.random.RandomState(seed)
    rows = []
    for tid in range(1, batch_size + 1):
        n_ops = int(rng.randint(0, max_ops + 1))
        for op in range(n_ops):
            key = int(rng.randint(1, keys_max + 1))
            is_update = bool(rng.rand() < write_rate)
            rows.append((tid, op, key, is_update))
    return rows
