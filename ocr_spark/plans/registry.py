"""Query registry: named DataFrame builders + matching DuckDB oracle SQL.

Driver contract (__spark_entry__.py): every operator from SURVEY.md §2
is exposed as ``queries()[name]`` (spark, sf_dir) → DataFrame, with an
equivalent ANSI-SQL ``oracle_sql()[name]`` where SQL-expressible; the
driver compares row-count + schema + order-insensitive value hash at
sf0.01.  Column-name parity and in-query rounding of float aggregates
(so both engines emit the identical canonical value) are handled at
definition site.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` → driver does a rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(existing: {QUERIES[name].__module__})")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# The driver's per-round CORRECTNESS check walks queries() in
# registration order and covers only the FIRST ~50 entries
# (CORRECTNESS_r01/r02.json each hold exactly 50 rows).  Registration
# order is therefore derived from the RECORDED CHECK HISTORY, not a
# hand-maintained list (round-2 ADVICE): operators whose implementation
# changed this round come first (their prior rows are stale), then
# never-checked operators, then everything else ordered by the round of
# its newest row ascending — so no operator's newest row ever goes more
# than (registry_size/50) rounds stale, and a future round that edits a
# query only has to add its name to _CHANGED_THIS_ROUND (asserted in
# tests/test_registry_window.py).
DRIVER_WINDOW = 50

#: names whose implementation (or shared helper) changed this round —
#: reviewed each round; the window test fails if any falls outside the
#: first DRIVER_WINDOW slots.
_CHANGED_THIS_ROUND = [
    # round 5: oracle fix — CAST(list_sum(c) AS BIGINT); DuckDB's
    # HUGEINT list_sum rendered as float64 through the driver's pandas
    # hash path while Spark emitted int64 (r04's one hash fail)
    "vec_quantize_int8",
    # round 5: rarest-gram prefix filter added to the candidate
    # generation (results unchanged, plan changed)
    "dedup_containment",
    # round 5: oracle now emits exact per-key counts instead of a
    # hardcoded `true AS err_within_bound` (round-4 ADVICE)
    "agg_cms_heavy_hitters",
    # round 5: rate_limited_events materializes each (user, day) group
    # across Arrow chunks before ordering (round-4 ADVICE, medium)
    "streaming_rate_limit", "events_rate_limit",
    # round 5 (late): single-plan global scalars — q15's MAX and q11's
    # total/count became windows over the aggregated frame (no persist,
    # no cross-action recompute); both are first-row entries anyway
    "tpch_q15", "tpch_q11",
]


def _check_history() -> dict[str, int]:
    """name → newest round with a driver CORRECTNESS row, parsed from
    the repo-root CORRECTNESS_r*.json files the driver writes each
    round.  Missing/unreadable files degrade to 'never checked'."""
    import json
    import re as _re
    from pathlib import Path

    newest: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _re.search(r"_r(\d+)\.json$", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except Exception:
            continue
        for name in data:
            newest[name] = max(newest.get(name, 0), rnd)
    return newest


def check_order(names) -> list[str]:
    """The driver-check ordering for ``names``: changed-this-round
    first (stale rows), then never-checked, then oldest-rowed first;
    registration index breaks ties deterministically."""
    newest = _check_history()
    changed = {n: i for i, n in enumerate(_CHANGED_THIS_ROUND)}
    orig = {n: i for i, n in enumerate(names)}

    def key(n):
        if n in changed:
            return (0, changed[n], 0)
        return (1, newest.get(n, 0), orig[n])

    return sorted(names, key=key)


def load_all() -> None:
    """Import every query module (side effect: fills QUERIES/ORACLES),
    then reorder into the history-derived driver-check priority."""
    from ocr_spark.plans import (  # noqa: F401
        queries_data,
        queries_extract,
        queries_more,
        queries_rel,
        queries_text,
        queries_vec,
    )
    names = check_order(list(QUERIES))
    for d in (QUERIES, ORACLES):
        ordered = {n: d[n] for n in names if n in d}
        d.clear()
        d.update(ordered)
