"""Rotation-pin regression: backlog queries front-run new registrations.

Round 6 and 7 both lost driver rows for ``semdedup_pipeline`` /
``sim_maxsim_multivector`` because ``_rotation_tier`` let each round's
~50 new registrations outrank old unchecked tier-5 names, pushing them
past the driver's 50-sample cutoff (VERDICT r7 "What's wrong" #1).
The fix: ``tools/declared_snapshot.json`` (written at round end by
``tools/snapshot_declared.py``) pins any still-unchecked snapshot name
ahead of everything registered since. These tests enforce that
contract directly against the real registry state.
"""

from __future__ import annotations

import json
import os

from gpu_database_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _snapshot() -> set[str]:
    with open(os.path.join(REPO, "tools", "declared_snapshot.json")) as fh:
        return set(json.load(fh))


def test_snapshot_exists_and_covers_registry_subset():
    snap = _snapshot()
    declared = set(registry.queries())
    # Every snapshot name must still exist (no silent de-registration).
    missing = snap - declared
    assert not missing, f"snapshot names no longer registered: {sorted(missing)}"


def test_unchecked_snapshot_names_precede_all_new_registrations():
    snap = _snapshot()
    checked = registry._driver_checked()
    order = list(registry.queries())
    backlog = [n for n in order if n in snap and n not in checked]
    if not backlog:
        return  # board fully drained — nothing to pin
    last_backlog_pos = max(order.index(n) for n in backlog)
    new_names = [n for n in order if n not in snap]
    for n in new_names:
        assert order.index(n) > last_backlog_pos, (
            f"new registration {n!r} front-runs backlog query "
            f"{order[last_backlog_pos]!r} — the rotation pin is broken"
        )


def test_checked_names_cycle_oldest_round_first():
    """Staleness term (VERDICT r9 #1): among already-checked names,
    the rotation must order by the round of their latest green driver
    row ascending, so leftover window slots re-verify the stalest
    names (the aria_* family sat on r01 rows for eight rounds)."""
    history = registry._driver_history()
    order = list(registry.queries())
    checked_rounds = [history[n] for n in order if n in history]
    assert checked_rounds == sorted(checked_rounds), (
        "checked queries are not ordered oldest-driver-round-first"
    )


def test_driver_window_spends_every_slot_on_highest_priority_work():
    """Staleness-window contract (VERDICT r9 #1, restated r11): a
    stalest-cohort name may overflow the driver's 50-sample window
    ONLY when displaced by strictly higher-priority work (an unchecked
    registration or an oracle upgrade re-earning a real row), never by
    a fresher-checked name — and the displacement must be exactly
    bounded by that unchecked count. The r11 relaxation exists because
    the r03 cohort is exactly 50 names, so ANY oracle upgrade (e.g.
    aria_run_batch gaining its recursive-CTE oracle) must be allowed
    to take a slot; the displaced name re-fronts next round by
    construction (it keeps the oldest history round)."""
    history = registry._driver_history()
    order = list(registry.queries())
    oldest = min(history.values())
    window = order[:50]
    overflow = [n for n in order[50:] if history.get(n) == oldest]
    if overflow:
        wasted = [n for n in window if history.get(n, oldest) > oldest]
        assert not wasted, (
            f"window spends slots on fresher-checked names {wasted} while "
            f"stalest names {overflow} wait outside"
        )
        unchecked = [n for n in window if n not in history]
        assert len(overflow) <= len(unchecked), (
            f"{len(overflow)} stalest names overflow but only "
            f"{len(unchecked)} unchecked names occupy the window — "
            "a fresher-checked name is displacing stale re-verification"
        )
    # VERDICT r10 #7 'done' criterion: this round's board must re-check
    # at least 15 names whose last driver row is r05 or older — or all
    # of them, once the rotation has drained that pool below 15.
    stale_available = sum(1 for n in order if history.get(n, 99) <= 5)
    stale_in_window = [n for n in window if history.get(n, 99) <= 5]
    assert len(stale_in_window) >= min(15, stale_available), (
        f"only {len(stale_in_window)} of {stale_available} stale (<= r05) "
        "names inside the driver window — the staleness rotation is "
        "being starved"
    )


def test_backlog_fits_driver_sample_window():
    """Everything unchecked (backlog + new) must fit in the first 50."""
    checked = registry._driver_checked()
    order = list(registry.queries())
    unchecked_positions = [i for i, n in enumerate(order) if n not in checked]
    overflow = [order[i] for i in unchecked_positions if i >= 50]
    assert not overflow, (
        f"{len(overflow)} unchecked queries sit past the driver's "
        f"50-sample window and will get no row this round: {overflow}"
    )
