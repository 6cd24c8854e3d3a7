"""Oracle-checkable projections of the Aria algebra (SURVEY.md §3.2).

The full epoch loop is iterative (tested against a serial-order oracle
in tests/test_aria.py), but each stage of one epoch is pure relational
algebra — so we derive a deterministic transaction batch from the
lineitem fixture and declare every stage as a DuckDB-checkable query:

  ops(txn_id, op_idx, key, is_update) :=
      txn_id    = l_orderkey                 (unique per txn)
      op_idx    = l_linenumber               (order within txn)
      key       = l_partkey % 211 + 1        (hot keyspace -> conflicts,
                                              mirroring keys_max=20000 on a
                                              200k table, Transction.h:28)
      is_update = l_quantity >= 30           (~0.4 write rate, WR_rate
                                              Transction.h:25)

This keeps the driver's DuckDB gate on the exact reservation /
conflict / commit / install semantics (same SQL on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_database_spark.operators import aria
from gpu_database_spark.registry import register
from gpu_database_spark.sources.catalog import load_table

_OPS_SQL = """
    SELECT l_orderkey AS txn_id,
           CAST(l_linenumber AS INTEGER) AS op_idx,
           l_partkey % 211 + 1 AS key,
           (l_quantity >= 30) AS is_update
    FROM lineitem
"""

_RES_SQL = """
    SELECT key, MIN(txn_id) AS rts,
           MIN(CASE WHEN is_update THEN txn_id END) AS wts
    FROM ops GROUP BY key
"""

_FLAGS_SQL = """
    SELECT o.txn_id,
           bool_or(r.wts IS NOT NULL AND r.wts < o.txn_id) AS raw,
           bool_or(o.is_update AND r.rts < o.txn_id) AS war,
           bool_or(o.is_update AND r.wts IS NOT NULL AND r.wts < o.txn_id) AS waw
    FROM ops o JOIN res r USING (key)
    GROUP BY o.txn_id
"""


def fixture_ops(spark: SparkSession, sf_dir: str, keys: int = 211) -> DataFrame:
    """The deterministic lineitem-derived transaction batch over
    ``keys`` keys: the hot 211-key space by default; a wider one means
    lower contention, so a multi-epoch loop converges in a handful of
    epochs at every fixture scale instead of dozens."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        F.col("l_orderkey").alias("txn_id"),
        F.col("l_linenumber").cast("int").alias("op_idx"),
        (F.col("l_partkey") % keys + 1).alias("key"),
        (F.col("l_quantity") >= 30).alias("is_update"),
    )


def init_table(spark: SparkSession, keys: int = 211) -> DataFrame:
    """The base table the Aria install queries write over: keys
    1..``keys``, each valued md5('init:<key>')."""
    return spark.range(1, keys + 1).select(
        F.col("id").alias("key"),
        F.md5(F.concat(F.lit("init:"), F.col("id").cast("string"))).alias("value"),
    )


@register(
    "aria_reserve",
    oracle=f"""
    WITH ops AS ({_OPS_SQL})
    SELECT key, MIN(txn_id) AS rts,
           MIN(CASE WHEN is_update THEN txn_id END) AS wts
    FROM ops GROUP BY key ORDER BY key
    """,
)
def aria_reserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reservation phase: per-key min-Tid read/write registers — the
    deterministic fixpoint of the reference's CAS race
    (metadatahelper.cuh:36-90)."""
    return aria.reserve(fixture_ops(spark, sf_dir)).orderBy("key")


@register(
    "aria_conflict_flags",
    oracle=f"""
    WITH ops AS ({_OPS_SQL}), res AS ({_RES_SQL})
    {_FLAGS_SQL}
    ORDER BY txn_id
    """,
)
def aria_conflict_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependency analysis: RAW/WAR/WAW flags per transaction
    (device_analyze_dependency, TrancM_func.cuh:125-164)."""
    ops = fixture_ops(spark, sf_dir)
    return aria.analyze(ops, aria.reserve(ops)).orderBy("txn_id")


@register(
    "aria_commit_decision",
    oracle=f"""
    WITH ops AS ({_OPS_SQL}), res AS ({_RES_SQL}), flags AS ({_FLAGS_SQL})
    SELECT txn_id,
           (NOT waw AND NOT raw) AS commit_plain,
           (NOT waw AND NOT (raw AND war)) AS commit_reorder
    FROM flags
    ORDER BY txn_id
    """,
)
def aria_commit_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit decisions under both abort rules: plain Aria (abort iff
    waw|raw, TrancM_func.cuh:207-227) vs reorder optimization (abort iff
    waw|(raw&war), TrancM_func.cuh:181-205). reorder commits are always
    a superset of plain commits — visible in the result."""
    ops = fixture_ops(spark, sf_dir)
    flags = aria.analyze(ops, aria.reserve(ops))
    return flags.select(
        "txn_id",
        (~aria.abort_rule(False)).alias("commit_plain"),
        (~aria.abort_rule(True)).alias("commit_reorder"),
    ).orderBy("txn_id")


@register(
    "aria_key_op_chain",
    oracle=f"""
    WITH ops AS ({_OPS_SQL})
    SELECT txn_id, key,
           COUNT(*) AS n_ops,
           string_agg(CAST(op_idx AS VARCHAR), ',' ORDER BY op_idx) AS op_chain,
           bool_or(is_update) AS any_update
    FROM ops
    GROUP BY txn_id, key
    HAVING COUNT(*) > 1
    ORDER BY txn_id, key
    """,
)
def aria_key_op_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-op-chain semantics (the reference's alternate execution path:
    per-txn chained map key -> ascending list of op indices; same-key
    ops run serially in op order, different keys in parallel —
    src/database/ycsb/key_op_chain.cuh:72-134, chain_exec :161-189).

    In Spark this is simply grouping by (txn, key) with an ordered
    aggregation — rows are the unit of parallelism, and the ordered
    chain is data, not control flow.
    """
    ops = fixture_ops(spark, sf_dir)
    return (
        ops.groupBy("txn_id", "key")
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("op_idx"))),
                    lambda s: s.op_idx.cast("string"),
                ),
                ",",
            ).alias("op_chain"),
            F.max("is_update").alias("any_update"),
        )
        .filter(F.col("n_ops") > 1)
        .orderBy("txn_id", "key")
    )


@register(
    "aria_metadata_pack",
    oracle=f"""
    WITH ops AS ({_OPS_SQL}), res AS ({_RES_SQL})
    SELECT key,
           (CAST(1 AS BIGINT) << 32) | ((rts % 65536) << 16) | (COALESCE(wts, 0) % 65536) AS packed,
           ((CAST(1 AS BIGINT) << 32) | ((rts % 65536) << 16) | (COALESCE(wts, 0) % 65536)) >> 16 & 65535
               AS unpacked_rts,
           ((CAST(1 AS BIGINT) << 32) | ((rts % 65536) << 16) | (COALESCE(wts, 0) % 65536)) & 65535
               AS unpacked_wts
    FROM res ORDER BY key
    """,
)
def aria_metadata_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference packs [epoch:16|rts:16|wts:16] into one u64 word
    mutated by CAS (src/cuda/metadatahelper.cuh:94-105, get/set
    :12-34). Spark needs no shared word — but the pack/unpack algebra
    itself is shown here as shift/mask expressions over the
    reservation aggregate (epoch pinned to 1)."""
    ops = fixture_ops(spark, sf_dir)
    res = aria.reserve(ops)
    packed = (
        F.shiftleft(F.lit(1).cast("long"), 32)
        .bitwiseOR(F.shiftleft(F.col("rts") % 65536, 16))
        .bitwiseOR(F.coalesce(F.col("wts"), F.lit(0)) % 65536)
    )
    return res.select(
        "key",
        packed.alias("packed"),
        F.shiftright(packed, 16).bitwiseAND(F.lit(65535)).alias("unpacked_rts"),
        packed.bitwiseAND(F.lit(65535)).alias("unpacked_wts"),
    ).orderBy("key")


@register(
    "aria_epoch_loop_census",
    oracle="""
    WITH RECURSIVE
    live(epoch, txn_id, op_idx, key, is_update, committed) AS (
        SELECT 0, l_orderkey, CAST(l_linenumber AS INTEGER),
               l_partkey % 1009 + 1, (l_quantity >= 30), FALSE
        FROM lineitem WHERE l_orderkey <= 150
        UNION ALL
        (
          WITH cur AS (SELECT * FROM live WHERE NOT committed),
          res AS (SELECT key, MIN(txn_id) AS rts,
                         MIN(CASE WHEN is_update THEN txn_id END) AS wts
                  FROM cur GROUP BY key),
          flags AS (SELECT o.txn_id,
                           bool_or(r.wts IS NOT NULL AND r.wts < o.txn_id) AS raw,
                           bool_or(o.is_update AND r.rts < o.txn_id) AS war,
                           bool_or(o.is_update AND r.wts IS NOT NULL
                                   AND r.wts < o.txn_id) AS waw
                    FROM cur o JOIN res r USING (key) GROUP BY o.txn_id),
          verdict AS (SELECT txn_id, (waw OR (raw AND war)) AS abort FROM flags),
          renum AS (SELECT txn_id, ROW_NUMBER() OVER (ORDER BY txn_id) AS new_tid
                    FROM (SELECT DISTINCT txn_id FROM verdict WHERE abort))
          SELECT c.epoch, c.txn_id, c.op_idx, c.key, c.is_update, TRUE
          FROM cur c JOIN verdict v USING (txn_id) WHERE NOT v.abort
          UNION ALL
          SELECT c.epoch + 1, r.new_tid, c.op_idx, c.key, c.is_update, FALSE
          FROM cur c JOIN renum r USING (txn_id)
        )
    ),
    wins AS (
        SELECT key,
               md5(CAST(txn_id AS VARCHAR) || ':' || CAST(op_idx AS VARCHAR)
                   || ':' || CAST(key AS VARCHAR)) AS value,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY epoch DESC, txn_id ASC,
                                           op_idx DESC) AS rn
        FROM live WHERE committed AND is_update
    ),
    base AS (
        SELECT i AS key, md5('init:' || CAST(i AS VARCHAR)) AS value
        FROM range(1, 1010) t(i)
    )
    SELECT COALESCE(b.key, w.key) AS key,
           COALESCE(w.value, b.value) AS value,
           (SELECT CAST(MAX(epoch) + 1 AS BIGINT) FROM live WHERE committed)
               AS epochs
    FROM base b FULL OUTER JOIN (SELECT key, value FROM wins WHERE rn = 1) w
        ON b.key = w.key
    ORDER BY key
    """,
)
def aria_epoch_loop_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL multi-epoch Aria loop, oracle-gated so the hash check
    covers more than one epoch's stages: run_batch's fully DISTRIBUTED
    path (local_threshold=0 — per-epoch commit decisions, winner
    overlays and Collect-phase renumbering all stay DataFrame-side;
    reference loop: db.h:104-125) over a
    deterministic lineitem-derived batch (txn_id <= 150, keyspace 1009)
    against an md5-seeded base table. The DuckDB oracle replays the
    identical epoch protocol as a recursive CTE — reservations, flag
    analysis, reorder-mode commit rule, order-preserving renumber —
    and reconstructs the final table as latest-epoch winner per key,
    so the hash gate covers reservation, conflict, commit, renumber
    AND multi-epoch install semantics in one row set.

    Scale shape: identical to run_batch's documented epoch costs (one
    keyed reserve shuffle + one flags groupBy + a bounded abort probe
    per epoch); 4 epochs at the driver/bench scale factors."""
    from gpu_database_spark.operators.aria import run_batch

    ops = fixture_ops(spark, sf_dir, keys=1009).filter(F.col("txn_id") <= 150)
    base = init_table(spark, 1009)
    result = run_batch(base, ops, reorder=True, local_threshold=0)
    return (
        result.table.withColumn("epochs", F.lit(result.epochs).cast("long"))
        .orderBy("key")
    )


@register(
    "aria_run_batch",
    oracle="""
    WITH RECURSIVE
    live(epoch, txn_id, op_idx, key, is_update, committed) AS (
        SELECT 0, l_orderkey, CAST(l_linenumber AS INTEGER),
               l_partkey % 211 + 1, (l_quantity >= 30), FALSE
        FROM lineitem WHERE l_orderkey <= 3000
        UNION ALL
        (
          WITH cur AS (SELECT * FROM live WHERE NOT committed),
          res AS (SELECT key, MIN(txn_id) AS rts,
                         MIN(CASE WHEN is_update THEN txn_id END) AS wts
                  FROM cur GROUP BY key),
          flags AS (SELECT o.txn_id,
                           bool_or(r.wts IS NOT NULL AND r.wts < o.txn_id) AS raw,
                           bool_or(o.is_update AND r.rts < o.txn_id) AS war,
                           bool_or(o.is_update AND r.wts IS NOT NULL
                                   AND r.wts < o.txn_id) AS waw
                    FROM cur o JOIN res r USING (key) GROUP BY o.txn_id),
          verdict AS (SELECT txn_id, (waw OR (raw AND war)) AS abort FROM flags),
          renum AS (SELECT txn_id, ROW_NUMBER() OVER (ORDER BY txn_id) AS new_tid
                    FROM (SELECT DISTINCT txn_id FROM verdict WHERE abort))
          SELECT c.epoch, c.txn_id, c.op_idx, c.key, c.is_update, TRUE
          FROM cur c JOIN verdict v USING (txn_id) WHERE NOT v.abort
          UNION ALL
          SELECT c.epoch + 1, r.new_tid, c.op_idx, c.key, c.is_update, FALSE
          FROM cur c JOIN renum r USING (txn_id)
        )
    ),
    wins AS (
        SELECT key,
               md5(CAST(txn_id AS VARCHAR) || ':' || CAST(op_idx AS VARCHAR)
                   || ':' || CAST(key AS VARCHAR)) AS value,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY epoch DESC, txn_id ASC,
                                           op_idx DESC) AS rn
        FROM live WHERE committed AND is_update
    ),
    base AS (
        SELECT i AS key, md5('init:' || CAST(i AS VARCHAR)) AS value
        FROM range(1, 212) t(i)
    ),
    meta AS (
        SELECT CAST(MAX(epoch) + 1 AS BIGINT) AS epochs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                  (SELECT DISTINCT epoch, txn_id FROM live WHERE committed))
                   AS n_committed
        FROM live WHERE committed
    )
    SELECT COALESCE(b.key, w.key) AS key,
           COALESCE(w.value, b.value) AS value,
           m.epochs, m.n_committed
    FROM base b
    FULL OUTER JOIN (SELECT key, value FROM wins WHERE rn = 1) w
        ON b.key = w.key
    CROSS JOIN meta m
    ORDER BY key
    """,
)
def aria_run_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Aria engine end-to-end through the driver contract:
    multi-epoch run_batch (reorder mode) over a lineitem-derived batch
    (hot 211-key keyspace -> ~118 epochs at sf0.01) against a
    deterministic base table; returns the final table state plus commit
    metadata. Oracle-gated, so the flagship is hash-checked rather than
    rows-only: the DuckDB side replays the identical
    Execute->Reserve->Analyze->Install->Collect fixpoint as a
    bounded recursive CTE — reservations, reorder-mode commit rule,
    order-preserving renumber, latest-epoch/min-Tid/last-op winner per
    key (reference loop: db.h:104-125, TrancM_func.cuh:181-250,
    TransctionManager.cuh:165-185). The txn_id <= 3000 cap bounds the
    oracle's recursion at EVERY scale factor (unlike a data-following
    oracle), so the gate holds from sf0.001 through sf1.0.

    Scale shape: run_batch's documented epoch costs — the local fast
    path here (batch is broadcast-sized by the reference's own design,
    N=200 txns/epoch), with the fully distributed path proven equal in
    tests/test_aria.py::test_local_fast_path_equals_distributed."""
    from gpu_database_spark.operators.aria import run_batch

    ops = fixture_ops(spark, sf_dir).filter(F.col("txn_id") <= 3000)
    base = init_table(spark)
    result = run_batch(base, ops, reorder=True)
    return (
        result.table.withColumn("epochs", F.lit(result.epochs).cast("long"))
        .withColumn(
            "n_committed", F.lit(len(result.commit_order)).cast("long")
        )
        .orderBy("key")
    )


ASOF_EPOCHS = 12  # snapshot horizon for the time-travel read


@register(
    "aria_snapshot_asof",
    oracle=f"""
    WITH RECURSIVE
    live(epoch, txn_id, op_idx, key, is_update, committed) AS (
        SELECT 0, l_orderkey, CAST(l_linenumber AS INTEGER),
               l_partkey % 211 + 1, (l_quantity >= 30), FALSE
        FROM lineitem WHERE l_orderkey <= 3000
        UNION ALL
        (
          WITH cur AS (SELECT * FROM live WHERE NOT committed),
          res AS (SELECT key, MIN(txn_id) AS rts,
                         MIN(CASE WHEN is_update THEN txn_id END) AS wts
                  FROM cur GROUP BY key),
          flags AS (SELECT o.txn_id,
                           bool_or(r.wts IS NOT NULL AND r.wts < o.txn_id) AS raw,
                           bool_or(o.is_update AND r.rts < o.txn_id) AS war,
                           bool_or(o.is_update AND r.wts IS NOT NULL
                                   AND r.wts < o.txn_id) AS waw
                    FROM cur o JOIN res r USING (key) GROUP BY o.txn_id),
          verdict AS (SELECT txn_id, (waw OR (raw AND war)) AS abort FROM flags),
          renum AS (SELECT txn_id, ROW_NUMBER() OVER (ORDER BY txn_id) AS new_tid
                    FROM (SELECT DISTINCT txn_id FROM verdict WHERE abort))
          SELECT c.epoch, c.txn_id, c.op_idx, c.key, c.is_update, TRUE
          FROM cur c JOIN verdict v USING (txn_id) WHERE NOT v.abort
          UNION ALL
          SELECT c.epoch + 1, r.new_tid, c.op_idx, c.key, c.is_update, FALSE
          FROM cur c JOIN renum r USING (txn_id)
          WHERE c.epoch + 1 < {ASOF_EPOCHS}
        )
    ),
    wins AS (
        SELECT key,
               md5(CAST(txn_id AS VARCHAR) || ':' || CAST(op_idx AS VARCHAR)
                   || ':' || CAST(key AS VARCHAR)) AS value,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY epoch DESC, txn_id ASC,
                                           op_idx DESC) AS rn
        FROM live WHERE committed AND is_update
    ),
    base AS (
        SELECT i AS key, md5('init:' || CAST(i AS VARCHAR)) AS value
        FROM range(1, 212) t(i)
    ),
    meta AS (
        SELECT CAST(MAX(epoch) + 1 AS BIGINT) AS epochs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                  (SELECT DISTINCT epoch, txn_id FROM live WHERE committed))
                   AS n_committed,
               (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                FROM lineitem WHERE l_orderkey <= 3000)
                 - (SELECT CAST(COUNT(*) AS BIGINT) FROM
                      (SELECT DISTINCT epoch, txn_id FROM live WHERE committed))
                   AS n_pending
        FROM live WHERE committed
    )
    SELECT COALESCE(b.key, w.key) AS key,
           COALESCE(w.value, b.value) AS value,
           m.epochs, m.n_committed, m.n_pending
    FROM base b
    FULL OUTER JOIN (SELECT key, value FROM wins WHERE rn = 1) w
        ON b.key = w.key
    CROSS JOIN meta m
    ORDER BY key
    """,
)
def aria_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVCC-style TIME TRAVEL over the deterministic batch engine: the
    table state AS OF epoch ASOF_EPOCHS=12, plus how many transactions
    had committed by then and how many were still pending. Because the
    Aria protocol is deterministic (same batch -> same per-epoch
    commits, same renumbering, same regenerated values — the property
    the reference's whole design rests on, db.h:104-125), the as-of
    snapshot needs no version chains or undo log: BOUNDED REPLAY of
    the same batch capped at the horizon epoch reconstructs it exactly
    (run_batch(strict=False) returns the partial state instead of
    raising at the cap). The oracle is aria_run_batch's recursive CTE
    with the retry branch cut at the horizon — commits from epochs
    0..11 only — and tests/test_aria.py pins the PREFIX property: the
    capped run's commit_order is literally the full run's first
    n_committed entries.

    Scale shape: identical to aria_run_batch (per-epoch shuffle costs,
    broadcast-sized batch on the local fast path) but strictly cheaper
    — the loop stops at the horizon instead of the fixpoint. At 100 TB
    the horizon bounds the replay cost of a point-in-time audit to
    O(epochs-to-horizon), independent of how long the batch ran on."""
    from gpu_database_spark.operators.aria import run_batch

    ops = fixture_ops(spark, sf_dir).filter(F.col("txn_id") <= 3000)
    base = init_table(spark)
    result = run_batch(
        base, ops, reorder=True, max_epochs=ASOF_EPOCHS, strict=False
    )
    n_txns = ops.select("txn_id").distinct().count()
    n_committed = len(result.commit_order)
    return (
        result.table.withColumn("epochs", F.lit(result.epochs).cast("long"))
        .withColumn("n_committed", F.lit(n_committed).cast("long"))
        .withColumn("n_pending", F.lit(n_txns - n_committed).cast("long"))
        .orderBy("key")
    )


@register(
    "aria_install",
    oracle=f"""
    WITH ops AS ({_OPS_SQL}), res AS ({_RES_SQL}), flags AS ({_FLAGS_SQL}),
    committed AS (
        SELECT txn_id FROM flags WHERE NOT waw AND NOT (raw AND war)
    ),
    base AS (
        SELECT i AS key, md5('init:' || CAST(i AS VARCHAR)) AS value
        FROM range(1, 212) t(i)
    ),
    win AS (
        SELECT key, value FROM (
            SELECT o.key,
                   md5(CAST(o.txn_id AS VARCHAR) || ':' || CAST(o.op_idx AS VARCHAR)
                       || ':' || CAST(o.key AS VARCHAR)) AS value,
                   ROW_NUMBER() OVER (PARTITION BY o.key
                                      ORDER BY o.txn_id ASC, o.op_idx DESC) AS rn
            FROM ops o JOIN committed c USING (txn_id)
            WHERE o.is_update
        ) WHERE rn = 1
    )
    SELECT COALESCE(b.key, w.key) AS key,
           COALESCE(w.value, b.value) AS value,
           (w.key IS NOT NULL) AS written
    FROM base b FULL OUTER JOIN win w ON b.key = w.key
    ORDER BY key
    """,
)
def aria_install(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Install phase end-to-end for one epoch (reorder mode): winning
    write per key (min committed Tid, last op — SURVEY.md §3.2 step 4)
    MERGEd over a deterministic base table (write-back,
    TrancM_func.cuh:188-197)."""
    ops = fixture_ops(spark, sf_dir)
    committed = aria.commit_decision(aria.analyze(ops, aria.reserve(ops)), reorder=True)
    base = init_table(spark)
    win = aria.winners(ops, committed)
    merged = aria.install(base, win)
    return (
        merged.join(win.select("key", F.col("value").alias("_w")), "key", "left")
        .select("key", "value", F.col("_w").isNotNull().alias("written"))
        .orderBy("key")
    )
