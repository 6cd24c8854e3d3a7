"""Aria engine vs the serial-order oracle (SURVEY.md §5.2-3).

Aria's guarantee: the deterministic epoch protocol produces exactly
the state of replaying the committed transactions serially in commit
(Tid) order. The oracle here is a plain-Python replay implementing the
reference semantics (TrancM_func.cuh:125-250) over dicts; the engine
must match it bit-for-bit, across epochs, in both abort modes.
"""

from __future__ import annotations

import hashlib

import pytest

from gpu_database_spark import gen
from gpu_database_spark.functions.local import local_frame, local_rows
from gpu_database_spark.operators import aria


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def serial_oracle(table, ops_rows, reorder, max_epochs=100):
    """Replay the epoch protocol over plain dicts.

    table: dict key->value; ops_rows: [(txn, op, key, upd)].
    Returns (table, epoch_committed_counts).
    """
    table = dict(table)
    live = list(ops_rows)
    epoch_commits = []
    for _ in range(max_epochs):
        if not live:
            break
        txns = sorted({t for t, _, _, _ in live})
        rts, wts = {}, {}
        for t, _, k, u in live:
            rts[k] = min(rts.get(k, t), t)
            if u:
                wts[k] = min(wts.get(k, t), t)
        flags = {t: [False, False, False] for t in txns}  # raw, war, waw
        for t, _, k, u in live:
            if k in wts and wts[k] < t:
                flags[t][0] = True
            if u and rts[k] < t:
                flags[t][1] = True
            if u and k in wts and wts[k] < t:
                flags[t][2] = True
        committed = []
        for t in txns:
            raw, war, waw = flags[t]
            abort = (waw or (raw and war)) if reorder else (waw or raw)
            if not abort:
                committed.append(t)
        cs = set(committed)
        # serial replay in commit (Tid) order; within txn, op order
        for t in committed:
            for tt, op, k, u in sorted(r for r in live if r[0] == t):
                if u:
                    table[k] = md5(f"{t}:{op}:{k}")
        epoch_commits.append(len(committed))
        aborted = [t for t in txns if t not in cs]
        renum = {t: i + 1 for i, t in enumerate(aborted)}
        live = [(renum[t], op, k, u) for t, op, k, u in live if t in renum]
    return table, epoch_commits


WORKLOAD_BATCH = dict(batch_size=40, max_ops=8, keys_max=60, write_rate=0.4, seed=11)
N_OPS = len(gen.transactions_local(**WORKLOAD_BATCH))


def commit_order(result):
    """Original ids in commit order, whichever path ran: the local
    path's list, or the distributed path's lazy ``commit_order_df``."""
    if result.commit_order_df is None:
        return result.commit_order
    co = result.commit_order_df.orderBy("epoch", "txn_id").collect()
    return [r.orig_tid for r in co]


def first_epoch_commits(ops, reorder):
    """Txn ids one Reserve -> Analyze -> commit pass commits."""
    flags = aria.analyze(ops, aria.reserve(ops))
    return {r.txn_id for r in aria.commit_decision(flags, reorder).collect()}


@pytest.fixture(scope="module")
def workload(spark):
    table_rows = {k: md5(f"init:{k}") for k in range(1, 101)}
    table = spark.createDataFrame(
        [(k, v) for k, v in table_rows.items()], "key long, value string"
    )
    ops_rows = gen.transactions_local(**WORKLOAD_BATCH)
    ops = spark.createDataFrame(
        ops_rows, "txn_id long, op_idx int, key long, is_update boolean"
    )
    return table_rows, table, ops_rows, ops


@pytest.mark.parametrize(
    "source,local_threshold,reorder",
    [
        pytest.param(source, lt, reorder, id=f"{prefix}{lt}-{reorder}")
        for source, prefix in (("list", ""), ("gen", "gen-"))
        for lt in (0, 100_000, N_OPS, N_OPS - 1)
        for reorder in (False, True)
    ],
)
def test_final_state_matches_serial_oracle(
    spark, workload, source, local_threshold, reorder
):
    """Both execution paths (0 -> fully distributed DataFrame algebra,
    100k -> driver-local fast path) must match the serial-order replay,
    for ops built by ``createDataFrame(list)`` (an RDD leaf) and by
    ``gen.transactions`` (an Arrow LocalRelation) alike. A batch of
    exactly ``local_threshold`` ops runs locally, one more op than the
    threshold runs distributed."""
    table_rows, table, ops_rows, ops = workload
    assert len(ops_rows) == N_OPS
    if source == "gen":
        ops = gen.transactions(spark, **WORKLOAD_BATCH)
    result = aria.run_batch(
        table, ops, reorder=reorder, local_threshold=local_threshold
    )
    assert (result.commit_order_df is None) == (N_OPS <= local_threshold)
    got = {r.key: r.value for r in result.table.collect()}
    want, epoch_commits = serial_oracle(table_rows, ops_rows, reorder)
    assert got == want
    assert result.epochs == len(epoch_commits)
    # every txn commits exactly once across epochs, reported under the
    # ORIGINAL id it was submitted with (not the retry renumbering)
    order = commit_order(result)
    assert len(order) == sum(epoch_commits)
    assert sorted(order) == sorted({t for t, _, _, _ in ops_rows})


def test_local_path_runs_no_job_before_install(spark, workload, job_group):
    """On a gen.transactions batch the local path is all driver work:
    no Spark job runs until the caller acts on ``result.table``."""
    table_rows, table, ops_rows, _ = workload
    with job_group() as jobs:
        ops = gen.transactions(spark, **WORKLOAD_BATCH)
        result = aria.run_batch(table, ops, reorder=True)
        assert result.epochs > 1
        assert jobs() == 0
        got = {r.key: r.value for r in result.table.collect()}
        assert jobs() > 0  # the install is where the distributed work is
    assert got == serial_oracle(table_rows, ops_rows, reorder=True)[0]


def _filtered_gen_batch(spark):
    """A gen.transactions batch seen through a filter: a derived frame,
    so it holds no rows and run_batch must probe it."""
    from pyspark.sql import functions as F

    rows = [r for r in gen.transactions_local(**WORKLOAD_BATCH) if r[2] % 3]
    ops = gen.transactions(spark, **WORKLOAD_BATCH).filter(F.col("key") % 3 != 0)
    return ops, rows


def _reordered_local_frame(spark):
    """A local_frame whose DDL lists the op columns in another order."""
    rows = gen.transactions_local(**WORKLOAD_BATCH)
    ops = local_frame(
        spark,
        [(k, t, u, op) for t, op, k, u in rows],
        "key long, txn_id long, is_update boolean, op_idx int",
    )
    return ops, rows


@pytest.mark.parametrize(
    "build,held",
    [(_filtered_gen_batch, False), (_reordered_local_frame, True)],
    ids=["probe", "held-reordered"],
)
@pytest.mark.parametrize("reorder", [False, True])
def test_local_path_sources_match_serial_oracle(spark, workload, build, held, reorder):
    """The local path reads held rows by column name, and probes any
    frame that holds none; both must equal the serial replay."""
    table_rows, table, _, _ = workload
    ops, rows = build(spark)
    assert (local_rows(ops) is not None) == held
    result = aria.run_batch(table, ops, reorder=reorder)
    want, epoch_commits = serial_oracle(table_rows, rows, reorder)
    assert {r.key: r.value for r in result.table.collect()} == want
    assert result.epochs == len(epoch_commits)
    assert sorted(result.commit_order) == sorted({t for t, _, _, _ in rows})


def test_held_rows_never_probe(spark, workload, monkeypatch):
    """A gen.transactions batch holds its rows: run_batch must not
    collect (or limit) the ops frame to read them."""
    table_rows, table, ops_rows, _ = workload
    ops = gen.transactions(spark, **WORKLOAD_BATCH)

    def refuse(*args, **kwargs):
        raise AssertionError("run_batch probed a frame that holds its rows")

    with monkeypatch.context() as m:
        # the concrete class: classic DataFrame overrides the base's methods
        m.setattr(type(ops), "collect", refuse)
        m.setattr(type(ops), "limit", refuse)
        result = aria.run_batch(table, ops, reorder=True)
    got = {r.key: r.value for r in result.table.collect()}
    assert got == serial_oracle(table_rows, ops_rows, reorder=True)[0]


def test_local_fast_path_equals_distributed(spark, workload):
    _, table, _, ops = workload
    local = aria.run_batch(table, ops, reorder=True)
    dist = aria.run_batch(table, ops, reorder=True, local_threshold=0)
    assert local.commit_order_df is None
    # the distributed path keeps commit evidence off the driver: the
    # list stays empty and the lazy frame equals the local list
    assert dist.commit_order == []
    assert local.commit_order == commit_order(dist)
    assert local.epochs == dist.epochs
    assert sorted(map(tuple, local.table.collect())) == sorted(
        map(tuple, dist.table.collect())
    )


def test_deterministic_across_runs(spark, workload):
    _, table, _, ops = workload
    r1 = aria.run_batch(table, ops, reorder=True)
    r2 = aria.run_batch(table, ops, reorder=True)
    assert sorted((r.key, r.value) for r in r1.table.collect()) == sorted(
        (r.key, r.value) for r in r2.table.collect()
    )
    assert r1.commit_order == r2.commit_order
    assert r1.epochs == r2.epochs


def test_reorder_commits_superset_of_plain(spark, workload):
    """On the same (first) epoch, reorder-mode commits ⊇ plain commits
    (abort condition waw|(raw&war) implies waw|raw)."""
    _, _, _, ops = workload
    assert first_epoch_commits(ops, False) <= first_epoch_commits(ops, True)


def test_min_tid_never_aborts(spark, workload):
    """The smallest Tid holds every reservation it requests
    (metadatahelper.cuh:51-55) — it can never conflict, guaranteeing
    termination of the retry loop."""
    _, _, ops_rows, ops = workload
    min_tid = min(t for t, _, _, _ in ops_rows)
    assert min_tid in first_epoch_commits(ops, False)


def test_unique_committed_writer_per_key(spark, workload):
    """WAW aborts guarantee at most one committed writer per key per
    epoch — the property that makes the parallel install race-free
    (and why the reference can let winners race, TrancM_func.cuh:188-197)."""
    _, _, _, ops = workload
    from pyspark.sql import functions as F

    committed = aria.commit_decision(aria.analyze(ops, aria.reserve(ops)), True)
    writers = (
        ops.filter(F.col("is_update"))
        .join(committed, "txn_id", "left_semi")
        .select("key", "txn_id")
        .distinct()
        .groupBy("key")
        .count()
    )
    assert writers.filter(F.col("count") > 1).count() == 0


def test_epoch_loop_terminates_and_commits_all(spark, workload):
    _, table, ops_rows, ops = workload
    result = aria.run_batch(table, ops, reorder=False)
    n_txns_with_ops = len({t for t, _, _, _ in ops_rows})
    assert len(result.commit_order) == n_txns_with_ops
    assert result.epochs < 50


@pytest.mark.parametrize(
    "local_threshold,reorder",
    [
        pytest.param(lt, reorder, id=f"{prefix}{reorder}")
        for lt, prefix in ((100_000, ""), (0, "dist-"))
        for reorder in (False, True)
    ],
)
def test_reference_config_matches_serial_oracle(spark, local_threshold, reorder):
    """Aria at the reference's ACTUAL workload configuration
    (``include/core/Transction.h:24-33`` / BASELINE.md: 199,999-row
    preload, 150 txns x U(0,30) ops, keys U(1,20000), write rate 0.4):
    final table must equal the serial-order replay and the epoch count
    must match the oracle's retry schedule, on the local path (the
    default threshold) and the distributed one (0) — the full-scale
    version of the toy-size property tests above."""
    n_rows, seed = 199_999, 42
    table = gen.kv_table_distributed(spark, n_rows, seed=seed)
    ops_rows = gen.transactions_local(
        batch_size=150, max_ops=30, keys_max=20_000, write_rate=0.4, seed=7
    )
    ops = spark.createDataFrame(
        ops_rows, "txn_id long, op_idx int, key long, is_update boolean"
    )
    result = aria.run_batch(
        table, ops, reorder=reorder, local_threshold=local_threshold
    )
    assert (result.commit_order_df is None) == (local_threshold > 0)
    got = {r.key: r.value for r in result.table.collect()}
    init = {k: md5(f"{seed}:{k}") for k in range(1, n_rows + 1)}
    want, epoch_commits = serial_oracle(init, ops_rows, reorder)
    assert len(got) == n_rows
    assert got == want
    assert result.epochs == len(epoch_commits)
    assert sorted(commit_order(result)) == sorted({t for t, _, _, _ in ops_rows})


@pytest.mark.parametrize("local_threshold", [0, 100_000])
def test_snapshot_asof_is_prefix_of_full_run(spark, workload, local_threshold):
    """Bounded replay IS time travel (aria_snapshot_asof): a run capped
    at epoch E with strict=False returns the partial state, and its
    commit_order is literally the FIRST n entries of the full run's —
    determinism means the capped run retraces the full run's prefix
    exactly, on both the local fast path and the distributed path."""
    _, table, ops_rows, ops = workload
    full = aria.run_batch(
        table, ops, reorder=True, local_threshold=local_threshold
    )
    assert full.epochs > 2  # the horizon below must be mid-flight
    horizon = 2
    capped = aria.run_batch(
        table, ops, reorder=True, max_epochs=horizon, strict=False,
        local_threshold=local_threshold,
    )
    assert capped.epochs == horizon
    full_order, capped_order = commit_order(full), commit_order(capped)
    n = len(capped_order)
    assert 0 < n < len(full_order)
    assert capped_order == full_order[:n]
    # the capped table differs from the full table only on keys whose
    # winning write landed after the horizon
    got_capped = {r.key: r.value for r in capped.table.collect()}
    got_full = {r.key: r.value for r in full.table.collect()}
    assert set(got_capped) == set(got_full)
    assert any(got_capped[k] != got_full[k] for k in got_capped)


def test_snapshot_asof_strict_default_still_raises(spark, workload):
    """strict=True (the default) must keep refusing to drop writes."""
    _, table, _, ops = workload
    with pytest.raises(RuntimeError, match="still live"):
        aria.run_batch(table, ops, reorder=True, max_epochs=1)
