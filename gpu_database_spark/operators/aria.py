"""Aria deterministic batch concurrency control as DataFrame algebra.

This is the reference's core capability (SURVEY.md §3): execute a
batch (epoch) of transactions speculatively, reserve each touched key
for the smallest transaction id (Tid), analyze RAW/WAR/WAW conflicts,
commit the conflict-free prefix deterministically, install its writes,
and retry the rest next epoch. ("Aria: A Fast and Practical
Deterministic OLTP Database", Lu et al., VLDB 2020.)

Reference mapping (file:line in /root/reference):
  - Execute/snapshot reads .. device_execute, src/database/ycsb/TrancM_func.cuh:21-63
  - Read/write reservation .. MetadataHelper CAS min-Tid loops,
                              src/cuda/metadatahelper.cuh:36-90
  - Dependency analysis ..... device_analyze_dependency, TrancM_func.cuh:125-164
  - Commit decision ......... without reorder: abort iff waw|raw,
                              TrancM_func.cuh:207-227; with reorder:
                              abort iff waw|(raw&war), TrancM_func.cuh:181-205
  - Install write-back ...... TrancM_func.cuh:188-197, :213-224
  - Collect/retry ........... TransctionManager.cuh:165-185

The CAS race's terminal state is exactly ``groupBy(key).min(txn_id)``
(a reservation fails iff an older Tid already holds it,
metadatahelper.cuh:51-55,79-83), so the whole protocol becomes five
deterministic, order-free DataFrame stages per epoch — no atomics, no
shared mutable state, and bit-reproducible across cluster sizes.

Data model:
  table: (key: long, value: string)            — the KV store
  ops:   (txn_id: long, op_idx: int, key: long, is_update: boolean)
         update ops also *read*-reserve their key (TrancM_func.cuh:42-52).
  Multi-table workloads (the reference's table_vec only ever uses
  [0][0], database.h:10-22) pack the table id into the key — the
  reservation algebra is table-agnostic.

Scale notes (100 TB): on run_batch's distributed path each epoch is
two keyed shuffles (reserve groupBy, analyze join+groupBy) plus the
Collect-phase renumber; the retry loop localCheckpoints the live op
set each epoch to cut the growing lineage (the one real perf trap of
iterative DataFrame programs), and the table is touched once, by the
install of the merged winner overlay after the last epoch.
A broadcast-sized batch skips all of that: on run_batch's local path
the epochs run on the driver as numpy array passes over the batch
(read straight from a ``local_frame``'s held Arrow rows, else from one
bounded collect), and the winners come back as a driver-built Arrow
``LocalRelation`` (functions/local.py), so nothing runs on the cluster
before the install, and the install (anti-join of the table against
the broadcast winners, plus their union) is the only distributed work.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gpu_database_spark.functions.local import local_frame, local_rows
from gpu_database_spark.functions.materialize import materialize


def reserve(ops: DataFrame) -> DataFrame:
    """Per-key min-Tid reservations: (key, rts, wts).

    rts is the min Tid over ALL ops on the key (update ops read too,
    TrancM_func.cuh:42-52); wts over update ops only. Equivalent to the
    terminal state of the reference's CAS loops (metadatahelper.cuh:36-90).
    """
    return ops.groupBy("key").agg(
        F.min("txn_id").alias("rts"),
        F.min(F.when(F.col("is_update"), F.col("txn_id"))).alias("wts"),
    )


def analyze(ops: DataFrame, reservations: DataFrame) -> DataFrame:
    """Per-txn conflict flags (txn_id, raw, war, waw).

    raw: some key this txn READS is write-reserved by an older txn
    war: some key this txn WRITES is read-reserved by an older txn
    waw: some key this txn WRITES is write-reserved by an older txn
    (device_analyze_dependency, TrancM_func.cuh:125-164; every op reads,
    so the read set is the whole op set.)
    """
    j = ops.join(reservations, "key")
    older_w = F.col("wts").isNotNull() & (F.col("wts") < F.col("txn_id"))
    older_r = F.col("rts") < F.col("txn_id")
    return j.groupBy("txn_id").agg(
        F.max(older_w).alias("raw"),
        F.max(F.col("is_update") & older_r).alias("war"),
        F.max(F.col("is_update") & older_w).alias("waw"),
    )


def abort_rule(reorder: bool) -> Column:
    """The abort predicate over a flags frame's (raw, war, waw).

    reorder=False: abort iff waw | raw   (TrancM_func.cuh:207-227)
    reorder=True : abort iff waw | (raw & war) — Aria's deterministic
                   reordering (TrancM_func.cuh:181-205; the ref tests
                   the equivalent `!raw || !war` at :187).
    """
    if reorder:
        return F.col("waw") | (F.col("raw") & F.col("war"))
    return F.col("waw") | F.col("raw")


def commit_decision(flags: DataFrame, reorder: bool) -> DataFrame:
    """Committed txn ids: the flag rows that :func:`abort_rule` keeps."""
    return flags.filter(~abort_rule(reorder)).select("txn_id")


def default_new_value() -> Column:
    """Deterministic speculative write payload: a hash of the writing
    (txn, op, key) — the seeded-reproducibility analogue of the
    reference's cuRAND value generation (kv.cuh:72-78). The DataFrame
    twin of the md5 that run_batch's local path computes on the driver."""
    return F.md5(
        F.concat_ws(":", F.col("txn_id"), F.col("op_idx"), F.col("key"))
    )


def winners(ops: DataFrame, committed: DataFrame) -> DataFrame:
    """One winning (key, value) per key among committed update ops.

    Deterministic resolution: smallest committed Tid, then its last op
    in op order (row_number over (key) ordered by txn_id asc, op_idx
    desc — SURVEY.md §3.2 step 4). The value is
    :func:`default_new_value` of the winning op.
    """
    w = Window.partitionBy("key").orderBy(F.col("txn_id").asc(), F.col("op_idx").desc())
    return (
        ops.filter(F.col("is_update"))
        .join(committed, "txn_id", "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("key", default_new_value().alias("value"))
    )


def install(table: DataFrame, winning: DataFrame) -> DataFrame:
    """MERGE the winners over the live table; both are (key, value)
    frames.

    Write-back of committed txns (TrancM_func.cuh:188-197). Upsert
    semantics: keys not present in the table are inserted (the
    op-parallel path's read-upsert, operation_parallel.cuh:72-83).

    Shape: broadcast anti-join (rows the winners don't touch) + union
    of the winners, NOT a full-outer coalesce — full-outer cannot use
    a broadcast build side, so it would sort-merge-shuffle the WHOLE
    table to merge an epoch's worth of writes; the anti+union keeps
    the table side shuffle-free at any scale. Equivalent because a
    winner's value is never NULL (it is a generated write) and keys
    are unique on both sides.
    """
    return table.join(F.broadcast(winning), "key", "left_anti").unionByName(winning)


@dataclass
class BatchResult:
    """Result of :func:`run_batch`.

    ``commit_order`` lists ORIGINAL transaction ids in deterministic
    commit order (epoch by epoch, Tid-ascending within an epoch) —
    retried transactions are renumbered internally per the reference's
    Collect phase (TransctionManager.cuh:176-184) but reported under
    the id the caller submitted. Only the local path fills it. The
    distributed path leaves it empty and sets the lazy
    ``commit_order_df`` (epoch: int, txn_id: long, orig_tid: long)
    instead, which never touches the driver; so ``commit_order_df is
    None`` tells which path ran.
    """

    table: DataFrame
    commit_order: list[int] = field(default_factory=list)
    epochs: int = 0
    commit_order_df: DataFrame | None = None


def _protocol_local(
    rows: list[tuple] | np.ndarray,
    reorder: bool,
    max_epochs: int,
    strict: bool = True,
) -> tuple[dict, list[int], int]:
    """The epoch protocol on the driver, in numpy, for broadcast-sized
    batches.

    ``rows``: (txn_id, op_idx, key, is_update) rows — a list of tuples
    or an (n, 4) integer array. Exactly the algebra of
    reserve/analyze/commit_decision/winners — tests/test_aria.py proves
    local == distributed and tests/test_aria_properties.py checks it
    against the plain-Python serial oracle. Returns
    (key -> (txn_id, op_idx) winning write, commit_order, epochs);
    later epochs shadow earlier ones, like the overlay path.
    commit_order reports ORIGINAL ids (pre-renumbering); winning
    values still regenerate from the epoch's Tid (the submitted id in
    epoch 1, the renumbered one after), matching the reference's device
    value generation on retried epochs.
    """
    a = np.asarray(rows, dtype=np.int64).reshape(-1, 4)
    op, upd = a[:, 1], a[:, 3].astype(bool)
    keys, kid = np.unique(a[:, 2], return_inverse=True)
    # Per live txn, ascending: the submitted id and the current Tid.
    # tix maps each live op to its txn's position in those arrays.
    orig, tix = np.unique(a[:, 0], return_inverse=True)
    tid = orig
    unreserved = np.iinfo(np.int64).max  # a key no Tid has reserved
    winner: dict = {}
    commit_order: list[int] = []
    epochs = 0
    while len(orig) and epochs < max_epochs:
        epochs += 1
        t = tid[tix]
        rts = np.full(len(keys), unreserved)
        np.minimum.at(rts, kid, t)
        wts = np.full(len(keys), unreserved)
        np.minimum.at(wts, kid[upd], t[upd])
        older_w = wts[kid] < t
        older_r = rts[kid] < t
        raw, war, waw = (
            np.bincount(tix[f], minlength=len(tid)) > 0
            for f in (older_w, upd & older_r, upd & older_w)
        )
        abort = waw | (raw & war) if reorder else waw | raw
        commit_order.extend(orig[~abort].tolist())
        # Winners: per key, the last committed update in (Tid, op) order.
        w = upd & ~abort[tix]
        wk, wt, wop = kid[w], t[w], op[w]
        last_first = np.lexsort((wop, wt, wk))[::-1]
        k, first = np.unique(wk[last_first], return_index=True)
        i = last_first[first]
        winner.update(zip(keys[k].tolist(), zip(wt[i].tolist(), wop[i].tolist())))
        # Collect: aborted txns retry as Tids 1..m in their old order.
        live = abort[tix]
        tix = (np.cumsum(abort) - 1)[tix[live]]
        kid, op, upd = kid[live], op[live], upd[live]
        orig = orig[abort]
        tid = np.arange(1, len(orig) + 1, dtype=np.int64)
    if len(orig) and strict:
        # exhausted the epoch budget with transactions still aborting —
        # never silently drop their writes
        raise RuntimeError(
            f"aria: {len(orig)} transactions still live "
            f"after max_epochs={max_epochs} — raise max_epochs"
        )
    return winner, commit_order, epochs


def global_renumber(df: DataFrame, col: str = "txn_id") -> DataFrame:
    """Order-preserving dense renumber 1..m of ``df[col]`` at scale.

    Replaces ``row_number() OVER (ORDER BY col)`` — whose unpartitioned
    window funnels every row through ONE task — with the two-level
    scheme: range-partition on ``col`` (partition i holds strictly
    smaller values than partition i+1), rank within each partition in
    parallel, then add broadcast cumulative partition-count offsets.
    The only single-task step is the running sum over one row per
    partition (bounded by cluster parallelism, not by data size).
    Output: input columns plus ``_new_tid`` (long, 1-based).
    """
    part = df.repartitionByRange(F.col(col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    counts = part.groupBy("_pid").count()
    offsets = counts.select(
        "_pid",
        F.coalesce(
            F.sum("count").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_offset"),
    )
    ranked = part.withColumn(
        "_rank", F.row_number().over(Window.partitionBy("_pid").orderBy(col))
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn("_new_tid", (F.col("_offset") + F.col("_rank")).cast("long"))
        .drop("_pid", "_rank", "_offset")
    )


def run_batch(
    table: DataFrame,
    ops: DataFrame,
    reorder: bool = False,
    max_epochs: int = 1000,
    local_threshold: int = 100_000,
    strict: bool = True,
) -> BatchResult:
    """Epoch loop until every txn commits (DB::test, db.h:104-109).

    ``strict``: by default, exhausting ``max_epochs`` with transactions
    still live raises (never silently drop writes). ``strict=False``
    turns the cap into a SNAPSHOT HORIZON: the partial result after
    exactly ``max_epochs`` epochs is returned — because the protocol is
    deterministic, that IS the table state as of that epoch, so bounded
    replay doubles as MVCC-style time travel (aria_snapshot_asof).

    Aborted txns are re-numbered 1..m preserving relative order
    (Collect, TransctionManager.cuh:176-184) and retried. Terminates:
    each epoch the smallest live Tid has no older conflictor, so it
    commits (metadatahelper.cuh:51-55 — min-Tid reservations never lose).

    The reference workload never reads-modifies-writes — speculative
    values are regenerated, not derived from reads (kv.cuh:72-78) — so
    the table is write-only during the batch: both paths install ONE
    merged winner overlay at the end (later epochs shadow earlier ones)
    instead of materializing the table every epoch.

    ``local_threshold``: batches of at most this many ops run the epoch
    protocol on the driver in one pass (numpy, :func:`_protocol_local`)
    — an OLTP epoch batch is broadcast-sized by definition (the
    reference caps it at 200 txns, TransctionManager.cuh:15), and
    per-epoch Spark job overhead would dominate it. The table itself
    stays distributed; only the op batch is local. When ``ops`` was
    built by :func:`~gpu_database_spark.functions.local.local_frame`
    (``gen.transactions`` does), its held Arrow rows are read directly;
    any other ``ops`` is probed with one bounded collect. The winner
    overlay is a ``LocalRelation`` too, so this path runs no Spark job
    before the caller's action on ``result.table``: the install is the
    only distributed work. Larger batches run fully distributed;
    equivalence of the paths is test-enforced
    (tests/test_aria.py::test_local_fast_path_equals_distributed).
    """
    result = BatchResult(table=table)
    cols = ["txn_id", "op_idx", "key", "is_update"]
    held = local_rows(ops)
    if held is not None:
        rows = np.column_stack([held.column(c).to_numpy() for c in cols])
    else:
        # ONE bounded collect decides the path AND delivers the rows if
        # local: collecting limit(threshold+1) never exceeds the budget.
        # Plain tuples: numpy probes each Row for array attributes, and a
        # Row's failed attribute lookup builds an exception (~20 us).
        probe = ops.select(*cols).limit(local_threshold + 1).collect()
        rows = [tuple(r) for r in probe]
    if len(rows) <= local_threshold:
        if not len(rows):
            return result
        winner, result.commit_order, result.epochs = _protocol_local(
            rows, reorder, max_epochs, strict=strict
        )
        win_rows = [
            (k, hashlib.md5(f"{t}:{op}:{k}".encode()).hexdigest())
            for k, (t, op) in sorted(winner.items())
        ]
        if win_rows:
            win = local_frame(ops.sparkSession, win_rows, "key long, value string")
            result.table = install(table, win)
        return result
    # Distributed path: commit decisions, winner overlay and the
    # Collect-phase renumbering all stay DataFrame-side; the only driver
    # traffic per epoch is the bounded aborted-set probe below, so a
    # 100M-txn batch never ships per-txn rows to the driver. The
    # originally submitted Tid rides along as orig_tid so commit
    # evidence reports caller ids.
    live = ops.withColumn("orig_tid", F.col("txn_id"))
    abort = abort_rule(reorder)
    overlays: list[DataFrame] = []
    co_frames: list[DataFrame] = []
    for epoch in range(max_epochs):
        # analyze() inlined to carry orig_tid through the groupBy.
        j = live.join(reserve(live), "key")
        older_w = F.col("wts").isNotNull() & (F.col("wts") < F.col("txn_id"))
        older_r = F.col("rts") < F.col("txn_id")
        flags = j.groupBy("txn_id").agg(
            F.max(older_w).alias("raw"),
            F.max(F.col("is_update") & older_r).alias("war"),
            F.max(F.col("is_update") & older_w).alias("waw"),
            F.min("orig_tid").alias("orig_tid"),
        )
        committed = flags.filter(~abort).select("txn_id", "orig_tid")
        aborted = flags.filter(abort).select("txn_id")
        overlays.append(
            winners(live, committed.select("txn_id")).withColumn(
                "_epoch", F.lit(epoch)
            )
        )
        co_frames.append(
            committed.select(F.lit(epoch).alias("epoch"), "txn_id", "orig_tid")
        )
        result.epochs += 1
        if aborted.limit(1).count() == 0:
            break
        # Collect phase: compact aborted txns to the queue front with
        # fresh sequential Tids 1..m, order-preserving
        # (TransctionManager.cuh:176-184) — two-level renumber, no
        # single-partition global window (see global_renumber).
        renum = global_renumber(aborted, "txn_id")
        live = (
            live.join(renum, "txn_id")
            .select(
                F.col("_new_tid").alias("txn_id"),
                "op_idx",
                "key",
                "is_update",
                "orig_tid",
            )
            .transform(lambda d: materialize(d, force_checkpoint=True))
        )
    else:
        # range exhausted without the aborted-set ever draining
        if strict:
            raise RuntimeError(
                f"aria: transactions still live after max_epochs={max_epochs} "
                "— raise max_epochs"
            )
    if overlays:
        result.commit_order_df = reduce(DataFrame.unionAll, co_frames)
        # Later epochs shadow earlier writes to the same key.
        w = Window.partitionBy("key").orderBy(F.col("_epoch").desc())
        final_w = (
            reduce(DataFrame.unionAll, overlays)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("key", "value")
        )
        result.table = install(table, final_w)
    return result
