"""Driver-window rotation: ``registry.queries()`` order.

The verification driver samples the first 50 names of ``queries()``.
One rule orders them: names with no green driver row first (oracled
before rows-only), then checked names oldest green round first, ties
by registration order. These tests pin that rule on a synthetic
history and check what it yields on the committed driver history.
"""

from __future__ import annotations

from gpu_database_spark import registry


def test_rotation_rule_on_synthetic_history(monkeypatch):
    """Unchecked names keep registration order whatever their family
    or age, and an unchecked oracled name is never queued behind a
    rows-only one."""
    registry._load_all()
    real = registry._driver_history()
    # Oracled names from different families, registered in the reverse
    # of any family priority (aggregate, window, join, TPC-H), plus one
    # rows-only name registered among them.
    dropped = ["agg_stats", "agg_approx_distinct", "window_rolling_distinct",
               "join_interval_overlap", "q3_shipping_priority"]
    for name in dropped:
        assert name in real, f"{name} has no green driver row to drop"
    assert "agg_approx_distinct" not in registry._ORACLES
    # Two new oracled registrations, an aggregate before a TPC-H shape.
    new = ["agg_synthetic_new", "q0_synthetic_new"]
    for name in new:
        monkeypatch.setitem(registry._QUERIES, name, lambda spark, sf: None)
        monkeypatch.setitem(registry._ORACLES, name, "SELECT 1 AS x")
    history = {n: r for n, r in real.items() if n not in dropped}
    monkeypatch.setattr(registry, "_driver_history", lambda: history)

    order = list(registry.queries())
    registered = list(registry._QUERIES)
    unchecked_oracled = [n for n in registered
                         if n not in history and n in registry._ORACLES]
    assert unchecked_oracled == ["agg_stats", "window_rolling_distinct",
                                 "join_interval_overlap",
                                 "q3_shipping_priority", *new]
    checked = sorted((n for n in registered if n in history),
                     key=lambda n: (history[n], registered.index(n)))
    assert order == unchecked_oracled + ["agg_approx_distinct"] + checked


def test_checked_names_cycle_oldest_round_first():
    """Among checked names, order follows the round of each name's
    latest green driver row, ascending, so leftover window slots
    re-verify the stalest names."""
    history = registry._driver_history()
    order = list(registry.queries())
    checked_rounds = [history[n] for n in order if n in history]
    assert checked_rounds == sorted(checked_rounds), (
        "checked queries are not ordered oldest-driver-round-first"
    )


def test_driver_window_spends_every_slot_on_highest_priority_work():
    """A stalest-cohort name may sit outside the driver's 50-sample
    window only when displaced by unchecked work (a new registration or
    an oracle upgrade re-earning a real row), never by a fresher-checked
    name, and no more of them than there are unchecked names in the
    window. The displaced name keeps its old round, so it fronts the
    next window."""
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
    # The window re-checks at least 15 names whose last driver row is
    # r05 or older, or all of them once fewer than 15 are left.
    stale_available = sum(1 for n in order if history.get(n, 99) <= 5)
    stale_in_window = [n for n in window if history.get(n, 99) <= 5]
    assert len(stale_in_window) >= min(15, stale_available), (
        f"only {len(stale_in_window)} of {stale_available} stale (<= r05) "
        "names inside the driver window — the staleness rotation is "
        "being starved"
    )


def test_backlog_fits_driver_sample_window():
    """Everything unchecked must fit in the first 50."""
    checked = set(registry._driver_history())
    order = list(registry.queries())
    unchecked_positions = [i for i, n in enumerate(order) if n not in checked]
    overflow = [order[i] for i in unchecked_positions if i >= 50]
    assert not overflow, (
        f"{len(overflow)} unchecked queries sit past the driver's "
        f"50-sample window and will get no row this round: {overflow}"
    )
