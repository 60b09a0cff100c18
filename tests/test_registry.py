"""Registry invariants: every declared query is well-formed and the
driver-facing iteration order spends the correctness snapshot's
bounded slots (~50) on the highest-information checks."""

from __future__ import annotations

from kafka_streams_aggregate_spark.registry import (
    _TIER_2_CHANGED_THIS_ROUND,
    _TIER_2_STREAMING_DRAIN,
    _TIER_3_CORE_PARITY,
    load_all,
    ordered,
    verified_in_prior_round,
)

SNAPSHOT_SLOTS = 50


def test_ordered_is_a_permutation_of_load_all():
    assert sorted(ordered()) == sorted(load_all())


def test_never_verified_queries_lead_the_order():
    """Queries with no green row in any prior correctness snapshot must
    come first in iteration order (they occupy the driver's bounded
    snapshot window). If there are more never-verified queries than
    slots, the overflow must be the most recently registered ones
    (registration order = age), so older debt drains first."""
    prior = verified_in_prior_round()
    names = list(ordered())
    never = [n for n in names if n not in prior]
    # Tier-2/3 re-verification pins a handful of slots; everything else
    # in the window must be never-verified debt, oldest first.
    window = names[:SNAPSHOT_SLOTS]
    n_lead = min(len(never), SNAPSHOT_SLOTS)
    missing_from_window = [n for n in never[:n_lead] if n not in window]
    assert not missing_from_window, (
        "never-verified queries displaced from the snapshot window: "
        f"{missing_from_window}"
    )


def test_verified_beyond_window_or_documented():
    """Anything pushed past the window is either green from a prior
    round or explicitly queued new work (never-verified overflow)."""
    prior = verified_in_prior_round()
    names = list(ordered())
    never = set(names) - prior
    beyond = names[SNAPSHOT_SLOTS:]
    overflow = [n for n in beyond if n in never]
    # Overflow is tolerable only when the never-verified set exceeds the
    # window — i.e. new queries genuinely waiting for the next round.
    if len(never) <= SNAPSHOT_SLOTS:
        assert not overflow, f"unverified query beyond the window: {overflow}"


def test_priority_tiers_inside_snapshot_window():
    """Tier-2 (changed this round) and tier-3 (core parity) queries must
    land inside the driver's ~50-row snapshot window — they are the
    re-verification signal, and silently pushing them past the window
    would leave changes and the reference-parity core unchecked."""
    names = list(ordered())
    window = set(names[:SNAPSHOT_SLOTS])
    pinned = (
        *_TIER_2_CHANGED_THIS_ROUND, *_TIER_2_STREAMING_DRAIN, *_TIER_3_CORE_PARITY
    )
    displaced = [n for n in pinned if n not in window]
    assert not displaced, (
        f"priority queries displaced from the snapshot window: {displaced}"
    )


def test_never_verified_debt_fits_one_round():
    """Never-verified debt plus the pinned tiers must fit in one
    snapshot, or some new query waits >1 round for its first driver
    verification — cap new registrations per round accordingly."""
    prior = verified_in_prior_round()
    never = [n for n in load_all() if n not in prior]
    pinned = (
        set(_TIER_2_CHANGED_THIS_ROUND)
        | set(_TIER_2_STREAMING_DRAIN)
        | set(_TIER_3_CORE_PARITY)
    )
    demand = len(set(never) | pinned)
    assert demand <= SNAPSHOT_SLOTS, (
        f"{len(never)} never-verified + {len(pinned)} pinned queries "
        f"exceed the {SNAPSHOT_SLOTS}-row snapshot window"
    )


def test_oracle_sql_names_only_registered_queries():
    qs = load_all()
    for name, qd in qs.items():
        assert qd.spark is not None, name
        if qd.oracle is not None:
            assert qd.oracle.strip(), f"{name}: empty oracle SQL"
