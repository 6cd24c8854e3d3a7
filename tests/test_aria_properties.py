"""Property-based tests of the Aria epoch protocol (hypothesis).

Pure-driver checks of `aria._protocol_local` (numpy) — the same
algorithm the distributed path implements (equivalence pinned in
test_aria.py) — against the independent plain-Python serial-order
oracle across randomized workloads. Hundreds of cases in seconds, no
Spark jobs.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings, strategies as st

from gpu_database_spark.operators.aria import _protocol_local
from tests.test_aria import serial_oracle


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=12),   # txn_id
        st.integers(min_value=0, max_value=6),    # op_idx
        st.integers(min_value=1, max_value=8),    # key (hot -> conflicts)
        st.booleans(),                            # is_update
    ),
    min_size=0,
    max_size=60,
).map(
    # op_idx must be unique within a txn (it is a position); dedupe
    lambda rows: list({(t, o): (t, o, k, u) for t, o, k, u in rows}.values())
)


# Sparse, large submitted Tids (up to 2**40): epoch 1 runs on the
# submitted ids themselves, not on a dense renumbering, and winning
# values regenerate from them.
sparse_tid_ops_strategy = st.lists(
    st.integers(min_value=1, max_value=2**40), min_size=1, max_size=10, unique=True
).flatmap(
    lambda tids: st.lists(
        st.tuples(
            st.sampled_from(tids),
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=1, max_value=8),
            st.booleans(),
        ),
        max_size=60,
    ).map(lambda rows: list({(t, o): (t, o, k, u) for t, o, k, u in rows}.values()))
)
any_ops_strategy = st.one_of(ops_strategy, sparse_tid_ops_strategy)


def values(winner):
    return {k: md5(f"{t}:{op}:{k}") for k, (t, op) in winner.items()}


@given(ops=any_ops_strategy, reorder=st.booleans())
@settings(max_examples=300, deadline=None)
def test_protocol_matches_serial_oracle(ops, reorder):
    winner, commit_order, epochs = _protocol_local(ops, reorder, max_epochs=200)
    want, epoch_commits = serial_oracle({}, ops, reorder, max_epochs=200)
    assert values(winner) == want
    assert len(commit_order) == sum(epoch_commits)
    assert epochs == len(epoch_commits)


@given(ops=ops_strategy)
@settings(max_examples=200, deadline=None)
def test_reorder_first_epoch_commits_superset(ops):
    """Reorder-mode first-epoch commits ⊇ plain-mode commits."""
    if not ops:
        return
    w_plain, c_plain, _ = _protocol_local(ops, False, max_epochs=1, strict=False)
    w_re, c_re, _ = _protocol_local(ops, True, max_epochs=1, strict=False)
    assert set(c_plain) <= set(c_re)


@given(ops=any_ops_strategy, reorder=st.booleans())
@settings(max_examples=200, deadline=None)
def test_terminates_and_commits_every_txn_once(ops, reorder):
    _, commit_order, epochs = _protocol_local(ops, reorder, max_epochs=200)
    n_txns = len({t for t, _, _, _ in ops})
    assert len(commit_order) == n_txns
    assert epochs <= max(n_txns, 1)  # ≥1 commit per epoch (min Tid wins)


@given(ops=any_ops_strategy, reorder=st.booleans(), k=st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_epoch_cap_is_a_snapshot_of_the_serial_oracle(ops, reorder, k):
    """strict=False at max_epochs=k returns the state the serial replay
    reaches in k epochs."""
    winner, commit_order, epochs = _protocol_local(ops, reorder, k, strict=False)
    want, epoch_commits = serial_oracle({}, ops, reorder, max_epochs=k)
    assert values(winner) == want
    assert len(commit_order) == sum(epoch_commits)
    assert epochs == len(epoch_commits)


@given(ops=any_ops_strategy, reorder=st.booleans(), k=st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_strict_cap_raises_iff_transactions_stay_live(ops, reorder, k):
    _, full_order, full_epochs = _protocol_local(ops, reorder, max_epochs=200)
    if full_epochs <= k:
        assert _protocol_local(ops, reorder, k)[1] == full_order
    else:
        with pytest.raises(RuntimeError, match="still live"):
            _protocol_local(ops, reorder, k)
