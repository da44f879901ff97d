"""Rotation-staleness gate (VERDICT r7 task 8).

210+ registered queries share a 50-slot driver-check window, so a
name can only be re-checked every ~4 rounds even under perfect
rotation. This test makes staleness a GATED property instead of a
judge's grep: it fails when any registered query's latest driver
correctness row is more than 4 rounds older than the newest
CORRECTNESS_r*.json *and* the name is absent from the current
window, the first 50 names of ``get_queries()`` (i.e. it would fall
another round behind), or when a registered name has never been
checked at all and is not in the window. The records are read
by the registry's own helper, so the rotation policy lives in one
module.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# CAPACITY POLICY (round 10, VERDICT r9 task 8). With N registered
# queries and a 50-slot window, a perfect earliest-deadline-first
# rotation re-checks each name every ceil(N/50) rounds, so the
# tightest enforceable lag bound is ceil(N/50) — names AT the bound
# are exempted by window membership (they are about to be
# re-checked). The bound is now CAPACITY-DERIVED from the live
# registry instead of a hardcoded constant that fires a separate
# feasibility ceiling every ~5 rounds: growing the registry
# automatically accepts a slower re-check cadence (224 queries ->
# lag 5; 251-300 -> lag 6; ...). The deliberate hard ceiling below
# (8 windows = 400 queries, ~2.7k bench seconds at today's
# 1.1 s/query) forces an explicit decision — grow WINDOW_SLOTS with
# the driver, split the registry, or retire rows — before the
# cadence quietly degrades past usefulness.
# Round 8 demonstrated the off-by-one the window exemption fixes:
# recording CORRECTNESS_r08.json pushed 32 r4 rows to exactly the
# bound while the committed window was still the r8 set, turning
# the suite red on the recording commit itself. At
# ceil(N/50)+window-exemption the record-then-rotate workflow stays
# green as long as every name reaching the bound is in the NEXT
# round's window.
WINDOW_SLOTS = 50
MAX_LAG_WINDOWS_CEILING = 8


def _max_lag_rounds() -> int:
    import math

    from baseline_magician_spark.registry import get_queries

    return math.ceil(len(get_queries()) / WINDOW_SLOTS)


def test_window_capacity_feasible():
    """The derived lag bound self-adjusts with registry growth; this
    gates only the deliberate readability ceiling (see the policy
    comment above) so the cadence cannot degrade without an explicit
    decision."""
    from baseline_magician_spark.registry import get_queries

    n = len(get_queries())
    assert n <= MAX_LAG_WINDOWS_CEILING * WINDOW_SLOTS, (
        f"{n} registered queries push the re-check cadence past "
        f"{MAX_LAG_WINDOWS_CEILING} rounds of a {WINDOW_SLOTS}-slot "
        "window; grow WINDOW_SLOTS with the driver, split the "
        "registry across driver rounds, or retire rows"
    )


def test_no_query_falls_behind_the_rotation():
    from baseline_magician_spark.registry import (
        _last_checked_rounds,
        get_queries,
    )

    latest = _last_checked_rounds(REPO)
    assert latest, "no CORRECTNESS_r*.json found"
    current = max(latest.values())

    registered = list(get_queries())
    window = set(registered[:WINDOW_SLOTS])

    never_checked = [
        n for n in registered if n not in latest and n not in window
    ]
    assert not never_checked, (
        "registered but never driver-checked and not in the current "
        f"window: {never_checked}"
    )

    # a name registered THIS session (after the newest correctness
    # file) can legitimately be outside `latest`; the clause above
    # already forces it into the window. For checked names, anything
    # at or past the capacity-derived bound must be queued.
    bound = _max_lag_rounds()
    too_stale = sorted(
        n
        for n in registered
        if n in latest
        and current - latest[n] >= bound
        and n not in window
    )
    assert not too_stale, (
        f"driver rows older than {bound} rounds and not in "
        f"the window (will fall further behind): {too_stale}"
    )


def test_recording_a_round_rotates_the_window(tmp_path):
    """Recording the current window as checked moves it behind every
    other name and leaves no name at the lag bound outside the next
    window: the rotation needs no edit to the registry."""
    from baseline_magician_spark.registry import (
        _check_order,
        _last_checked_rounds,
        get_queries,
    )

    for p in REPO.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, tmp_path / p.name)
    registered = list(get_queries())
    before = _check_order(registered, _last_checked_rounds(tmp_path))
    assert before == registered

    current = max(_last_checked_rounds(tmp_path).values()) + 1
    (tmp_path / f"CORRECTNESS_r{current:02d}.json").write_text(
        json.dumps({n: {"rows_match": True} for n in before[:WINDOW_SLOTS]})
    )
    latest = _last_checked_rounds(tmp_path)
    after = _check_order(registered, latest)
    assert after == before[WINDOW_SLOTS:] + before[:WINDOW_SLOTS]

    due = {n for n in registered if current - latest[n] >= _max_lag_rounds()}
    assert due <= set(after[:WINDOW_SLOTS])
