"""Sinks: parquet (partitioned / bucketed / sorted / MERGE), CSV, JSONL.

Scale notes (100 TB):
* ``write_parquet_partitioned`` — partition by a low-cardinality column
  (date, lang, source); downstream filters on it become directory
  pruning (zero IO for skipped partitions).
* ``write_bucketed_table`` — pre-shuffle by join key into N buckets;
  a later join/aggregate on that key skips its shuffle entirely
  (the persistent analogue of the reference keeping its whole hash
  table key-organized, src/cuda/hashTable.cuh).
* Never coalesce(1): one output task is a single-writer bottleneck.
  Control file sizes with repartition(n, key) before the write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins between two tables bucketed the same way on the same key are
    shuffle-free (SortMergeJoin with no Exchange) — verified in
    tests/test_sources.py.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int
) -> None:
    """Write parquet clustered on sort_cols (range-partition + in-file
    sort): row-group min/max stats become tight, so later filters on
    those columns skip whole row groups — the single cheapest IO
    optimization for append-only fact tables at 100 TB. n_files is
    required: the shuffle-partition default (200) would manufacture
    exactly the small-files problem compact_parquet exists to fix."""
    df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
        *sort_cols
    ).write.mode("overwrite").parquet(path)


def compact_parquet(spark, path: str, target_files: int) -> None:
    """Compact a LOCAL-filesystem small-files directory to target_files
    (the streaming-sink hygiene job). Swap discipline: write compacted
    data to a temp dir, move the old dir aside, move the new one in,
    then delete the old. `path` is never PARTIAL, but the swap is two
    renames, not one atomic exchange — a concurrent reader can observe
    a brief window where `path` is absent and must tolerate a
    retryable miss; a crash leaves either the old data in place or
    (post-swap) only the *_old leftover to clean. A truly gapless swap
    needs RENAME_EXCHANGE or a catalog commit — for object stores use
    the catalog's atomic-commit (Iceberg/Delta rewriteDataFiles), not
    this."""
    import shutil
    import tempfile
    import os

    df = spark.read.parquet(path)
    parent = os.path.dirname(path) or "."
    tmp = tempfile.mkdtemp(prefix="compact_new_", dir=parent)
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    old = tempfile.mkdtemp(prefix="compact_old_", dir=parent)
    os.rmdir(old)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back: restore the original table
        raise
    shutil.rmtree(old)


def merge_upsert(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
    keep_versions: int = 3,
) -> int:
    """Delta-style MERGE sink over versioned parquet snapshots.

    Semantics (one call = one committed transaction):
      WHEN MATCHED     -> update every non-key column from ``updates``
      WHEN NOT MATCHED -> insert the new row
      WHEN MATCHED AND ``delete_col`` is true -> delete the row
    — the sink form of the engine's install/upsert transform
    (operators/relational.kv_upsert_merge, aria.install; reference
    write-back TrancM_func.cuh:188-197, delete stub hashTable.cuh:112).

    Commit protocol: the merged result is written to a NEW snapshot
    directory ``path/v=N`` and only then does ``_LATEST`` swing to N
    via an atomic ``os.replace`` — readers see the old snapshot or the
    new one, never a partial table (contrast compact_parquet's
    two-rename window). Old snapshots beyond ``keep_versions`` are
    vacuumed after the pointer moves; ``read_snapshot(..., version=k)``
    is time travel over whatever survives.

    Scale: the MERGE itself is one full-outer join shuffling both
    sides on the key — the same cost profile as any keyed join at
    100 TB; the snapshot write is embarrassingly parallel; only the
    few-byte pointer swap is single-writer. Returns the new version.

    ``updates`` must be unique per key (the MERGE-source contract —
    Delta errors on multiple matches; here a duplicate source key
    would fan out the matched row).
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    version = latest_version(path)
    if version is None:
        base = None
        new_version = 1
    else:
        base = read_snapshot(spark, path)
        new_version = version + 1
    upd_cols = [c for c in updates.columns if c != delete_col]
    if base is None:
        merged = updates.select(*upd_cols)
        if delete_col is not None:
            merged = updates.filter(~F.coalesce(F.col(delete_col), F.lit(False))).select(*upd_cols)
    else:
        if set(base.columns) != set(upd_cols):
            raise ValueError(
                f"schema mismatch: table {sorted(base.columns)} vs updates {sorted(upd_cols)}"
            )
        # explicit presence flag: an update may legitimately carry NULLs,
        # so "matched" cannot be inferred from value-column nullness
        u = updates.select(
            *key_cols,
            F.lit(True).alias("_u_present"),
            *[
                F.col(c).alias(f"_u_{c}")
                for c in updates.columns
                if c not in key_cols
            ],
        )
        joined = base.join(u, key_cols, "full_outer")
        if delete_col is not None:
            joined = joined.filter(
                ~F.coalesce(F.col(f"_u_{delete_col}"), F.lit(False))
            )
        value_cols = [c for c in base.columns if c not in key_cols]
        merged = joined.select(
            *key_cols,
            *[
                F.when(F.coalesce(F.col("_u_present"), F.lit(False)), F.col(f"_u_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in value_cols
            ],
        )
    os.makedirs(path, exist_ok=True)
    snap_dir = os.path.join(path, f"v={new_version}")
    merged.write.mode("overwrite").parquet(snap_dir)
    fd, tmp = tempfile.mkstemp(dir=path, prefix="_LATEST_")
    with os.fdopen(fd, "w") as fh:
        fh.write(str(new_version))
    os.replace(tmp, os.path.join(path, "_LATEST"))  # the atomic commit point
    for v in (snapshot_versions(path) or [])[:-keep_versions]:
        if v != new_version:
            shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return new_version


def latest_version(path: str) -> int | None:
    import os

    try:
        with open(os.path.join(path, "_LATEST")) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def snapshot_versions(path: str) -> list[int]:
    """Snapshot versions present on disk, ascending."""
    import glob
    import os

    return sorted(
        int(os.path.basename(d).split("=", 1)[1])
        for d in glob.glob(os.path.join(path, "v=*"))
        if os.path.isdir(d)
    )


def read_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Read the committed snapshot (or time-travel to ``version``)."""
    import os

    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)
