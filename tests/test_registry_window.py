"""Driver-window management gates (round-2 ADVICE): the driver's
CORRECTNESS check covers only the first DRIVER_WINDOW registrations per
round, so the ordering must guarantee (a) anything changed this round is
re-verified, (b) never-checked entries get their first row, and (c) no
operator's newest row goes stale beyond the rotation bound."""

from __future__ import annotations

from ocr_spark.plans import registry

registry.load_all()


def _window():
    return list(registry.QUERIES)[: registry.DRIVER_WINDOW]


def test_changed_this_round_inside_window():
    win = set(_window())
    missing = [n for n in registry._CHANGED_THIS_ROUND if n not in win]
    assert not missing, (
        f"changed queries outside the driver window (stale rows would "
        f"stand): {missing}")


def test_never_checked_inside_window():
    newest = registry._check_history()
    win = set(_window())
    missing = [n for n in registry.QUERIES if n not in newest and n not in win]
    assert not missing, f"never-checked queries outside window: {missing}"


def _staleness_bound() -> int:
    """Rotation capacity: with n registered operators and a 50-slot
    driver window, the tightest bound any schedule can guarantee is
    ceil(n / window) rounds (every op re-checked once per full
    rotation); 2 is the floor from the round-2 ADVICE era when the
    registry still fit in two windows."""
    n = len(registry.QUERIES)
    return max(2, -(-n // registry.DRIVER_WINDOW))


def test_stalest_rows_inside_window():
    """Staleness bound: after the driver runs this round's window, no
    operator's newest CORRECTNESS row may be older than the rotation
    capacity allows (see _staleness_bound).  Changed-this-round and
    never-checked entries must ALWAYS fit (their absence would let a
    stale/absent row stand for a changed impl); older-but-green rows
    may overflow the window only while they remain within the bound —
    the rotation then picks them first next round.  Fails loudly the
    moment demand outgrows what the rotation can cover."""
    newest = registry._check_history()
    if not newest:  # no history files (fresh clone) — nothing to rotate
        return
    latest = max(newest.values())
    win = set(_window())

    hard = set(registry._CHANGED_THIS_ROUND) | {
        n for n in registry.QUERIES if n not in newest}
    missing_hard = sorted(hard - win)
    assert not missing_hard, (
        f"changed/never-checked queries outside window: {missing_hard}")

    # overflow = green-rowed entries the window can't refresh this round
    # (no-row entries are covered by the hard gate above)
    overflow = sorted(n for n in registry.QUERIES
                      if n not in win and n in newest and newest[n] < latest)
    bound = _staleness_bound()
    too_stale = [n for n in overflow if (latest + 1) - newest[n] > bound]
    assert not too_stale, (
        f"rows would exceed the {bound}-round staleness bound: "
        f"{[(n, newest[n]) for n in too_stale]}")


def test_registered_names_unchanged_by_ordering():
    """Ordering must be a permutation — never drop or invent entries —
    and every oracle name must still be a registered query."""
    names = set(registry.QUERIES)
    assert set(registry.ORACLES) <= names
    assert len(names) == len(list(registry.QUERIES))


def test_survey_name_map_covers_registry():
    """SURVEY.md §2.6 is the judge's line-by-line inventory: every
    registered operator must appear there by name, and the stated
    totals must match the live registry."""
    from pathlib import Path

    text = Path(__file__).resolve().parents[1].joinpath("SURVEY.md").read_text()
    sec = text.split("### 2.6 Registry name map", 1)[1].split("## 3.", 1)[0]
    missing = [n for n in registry.QUERIES if f"`{n}`" not in sec]
    assert not missing, f"operators missing from SURVEY §2.6: {missing}"
    assert f"Total: {len(registry.QUERIES)} operators" in sec, (
        "SURVEY §2.6 total out of date")
    assert f"{len(registry.ORACLES)} oracle-checked" in sec
