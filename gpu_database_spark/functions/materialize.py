"""Materialization points and the fixed-point loop driver.

Many operators compute an intermediate once and feed it to several
downstream consumers (a bands table read by both sides of a self-join,
a bigram model read by two rollups). The repo's one device for that is
:func:`materialize`, an eager ``localCheckpoint``: it cuts lineage AND
guarantees single execution. Two documented trade-offs come with it:

* **fault-tolerance**: localCheckpoint blocks are non-replicated and
  non-recomputable — an executor loss kills the query. Fine on
  local[32]; at 100 TB prefer ``persist(MEMORY_AND_DISK)`` (keeps
  lineage, recomputes on loss). Set ``SPARK_GRAFT_MATERIALIZE=persist``
  to flip every non-loop materialization point in the repo at once.
  (Loop-carried state always checkpoints regardless: truncating the
  growing lineage is the point there, and persist would reintroduce the
  per-round plan regrowth the checkpoint exists to prevent.)
* **lifetime**: checkpoint blocks pin executor storage until the RDD
  is driver-GC'd, which py4j delays indefinitely in long sessions (a
  best-of-3 bench over the full headline set accumulates them).
  Harnesses that run many queries in one session call
  :func:`release_all` between queries, after results are fully
  collected — NEVER while a dependent plan is still unexecuted,
  because a released checkpoint cannot be recomputed.

Iterative operators (PageRank, k-core, label propagation, HITS, BFS,
connected components) go through :func:`fixed_point`, the only place
that decides when loop state is checkpointed and whether eagerly.

Lazy checkpoints save less than they seem to. Under AQE,
``localCheckpoint(eager=False)`` still runs the upstream shuffle-map
jobs when it is called; on a one-shuffle plan that is 1 job at call
time against 2 for an eager checkpoint. So deferring saves one
final-stage job per site and never a blocking build, and it is only
safe when the deferred block's first consumer is known. The driver
defers only where its own convergence probe is that consumer.
"""

from __future__ import annotations

import os
import warnings
from typing import Callable, Union

from pyspark.sql import DataFrame, SparkSession

# RDD ids created by materialize()/fixed_point() in this process.
# release_all unpersists only these, never caches it does not own (an
# application cache swept mid-query once caused a
# CHECKPOINT_BLOCK_NOT_FOUND).
_OWNED_RDD_IDS: set[int] = set()

State = Union[DataFrame, tuple]


def track_persisted(
    spark: SparkSession, make: Callable[[], DataFrame]
) -> tuple[DataFrame, set[int]]:
    """Run ``make()``; return its result and the ids of the persistent
    RDDs it created.

    The persisted block (checkpoint RDD / InMemoryRelation RDD) is
    internal — its id isn't exposed by the DataFrame API (df.rdd is a
    fresh conversion RDD with a different id) — so diff the
    persistent-RDD set around the call. Materialization only ever runs
    from driver-serial operator code, so the diff cannot pick up a
    concurrent stranger."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = make()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    return out, {int(i) for i in after - before}


def unpersist_rdds(spark: SparkSession, ids: set[int]) -> int:
    """Unpersist the persistent RDDs among ``ids``; return how many
    were still persisted."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
            released += 1
    return released


def _owned(df: DataFrame, make: Callable[[], DataFrame]) -> DataFrame:
    """Run ``make()`` and record the persistent RDDs it created for
    :func:`release_all`."""
    out, ids = track_persisted(df.sparkSession, make)
    _OWNED_RDD_IDS.update(ids)
    return out


def materialize(df: DataFrame, *, force_checkpoint: bool = False) -> DataFrame:
    """Materialize ``df`` now and return a reusable, lineage-bounded
    handle. Mode is process-wide via ``SPARK_GRAFT_MATERIALIZE``:
    ``checkpoint`` (default: localCheckpoint, single-execution
    guarantee, non-recoverable) or ``persist`` (MEMORY_AND_DISK plus a
    count, lineage kept, the fault-tolerant 100 TB setting).

    ``force_checkpoint=True`` always localCheckpoints regardless of the
    env switch: for state carried across a loop that does not fit
    :func:`fixed_point` (Aria's epochs, BPE merges), where persist
    would keep the self-referencing plan growing every round, and for
    frames that must outlive their source files."""
    if os.environ.get("SPARK_GRAFT_MATERIALIZE", "checkpoint") == "persist" and (
        not force_checkpoint
    ):
        from pyspark import StorageLevel

        def persisted() -> DataFrame:
            out = df.persist(StorageLevel.MEMORY_AND_DISK)
            out.count()  # force now so consumers share one execution
            return out

        return _owned(df, persisted)
    return _owned(df, lambda: df.localCheckpoint(eager=True))


def fixed_point(
    state: State,
    step: Callable[[State], State],
    *,
    max_iters: int,
    probe: Callable[[State], object] | None = None,
    checkpoint_every: int = 1,
) -> State:
    """Iterate ``state = step(state)`` and return the final state.

    ``state`` is a DataFrame or a tuple of DataFrames; ``step`` builds
    the next round's plan from the current one. Every frame of the
    state is localCheckpointed (never env-switched persist), so the
    loop plan stays constant-size.

    With a ``probe`` (a function running one action on the state and
    returning a scalar), every round is checkpointed lazily: the probe
    is the next action, so the checkpoint's final stage runs inside
    the probe's job instead of a job of its own. The loop stops when
    the scalar repeats or is ``None`` (the empty-input case); running
    out of ``max_iters`` first warns with a ``RuntimeWarning``, because
    the state is then not a fixed point.

    Without a probe, ``max_iters`` rounds run and the state is
    checkpointed eagerly every ``checkpoint_every`` rounds and after
    the last one, so the returned frame's plan does not grow with the
    round count."""

    def checkpoint(s: State, eager: bool) -> State:
        if isinstance(s, DataFrame):
            return _owned(s, lambda: s.localCheckpoint(eager=eager))
        return tuple(checkpoint(d, eager) for d in s)

    prev = None
    for i in range(max_iters):
        state = step(state)
        if probe is not None:
            state = checkpoint(state, eager=False)
            cur = probe(state)
            if cur is None or cur == prev:
                return state
            prev = cur
        elif (i + 1) % checkpoint_every == 0 or i == max_iters - 1:
            state = checkpoint(state, eager=True)
    if probe is not None:
        warnings.warn(
            f"{step.__qualname__}: no fixed point after "
            f"{max_iters} rounds; the result is not converged",
            RuntimeWarning,
            stacklevel=3,
        )
    return state


def release_all(spark: SparkSession) -> int:
    """Release materialization blocks created by this module.

    Only RDD ids recorded by :func:`materialize` and
    :func:`fixed_point` (checkpoint blocks and persist handles alike)
    are unpersisted; application-level caches — e.g. an operator's
    internal ``.cache()`` or a live streaming query's state — are left
    alone, so this is safe to call between queries in a long harness
    session without sweeping blocks it does not own.

    Only safe once all dependent results are collected — a released
    checkpoint cannot be recomputed. Returns the number released.
    """
    if not _OWNED_RDD_IDS:
        return 0
    released = unpersist_rdds(spark, _OWNED_RDD_IDS)
    _OWNED_RDD_IDS.clear()
    return released
