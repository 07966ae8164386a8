"""The driver records only the LAST 2000 chars of bench.py stdout and
parses the final JSON line out of that window.  Round 4's full payload
line grew past it (BENCH_r04.json: parsed=None), so bench.py now ends
stdout with a compact line built by bench.compact_line(); these gates
pin the invariant that line can never outgrow the window again."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _payload(n_queries: int, name_len: int = 28) -> dict:
    """A pessimistic payload: many queries, long names, wide values."""
    timings = {
        f"q_{str(i).zfill(3)}_{'x' * name_len}": round(100.0 + i * 0.137, 3)
        for i in range(n_queries)
    }
    return {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "cpus": 32,
        "repeats": 3,
        "calibration_sec": 1.1069,
        "calibration_sec_start": 0.9699,
        "calibration_sec_end": 1.2439,
        "extract_docs_per_sec": 2946.12,
        "extract_spans_per_sec": 18566.14,
        "extract_steady_docs_per_sec": 10316.49,
        "extract_steady_spans_per_sec": 64502.58,
        "extract_steady_n_docs": 40000,
    }


def test_compact_line_fits_the_recorder_tail():
    # the real registry is ~97 timed queries; gate far beyond that
    for n in (0, 1, 55, 97, 400):
        line = bench.compact_line(_payload(n))
        assert len(line) < 2000, (n, len(line))
        parsed = json.loads(line)
        assert parsed["metric"] == "headline_queries_total_runtime"
        assert parsed["queries_total"] == n
        assert parsed["queries_elided"] == n - len(parsed["queries"])
        assert parsed["queries_full"] == "BENCH/bench_full.json"


def test_compact_line_keeps_the_slowest_queries():
    payload = _payload(97)
    parsed = json.loads(bench.compact_line(payload))
    kept = parsed["queries"]
    assert 0 < len(kept) < 97
    floor = min(kept.values())
    dropped = [v for k, v in payload["queries"].items() if k not in kept]
    assert all(v <= floor for v in dropped)
    # top-level metrics survive the trim
    for key in ("value", "sf", "cpus", "calibration_sec",
                "extract_steady_docs_per_sec"):
        assert parsed[key] == payload[key]


def test_real_headline_names_fit():
    """With the repo's actual (long) operator names and 3-decimal
    timings, the line still fits."""
    names = bench.HEADLINE + bench.BUILDER_TIMED + [
        "dedup_simhash_full", "ann_lsh_bucketed_full",
        "extract_pipeline_e2e"]
    payload = _payload(0)
    payload["queries"] = {n: 10.343 for n in names}
    line = bench.compact_line(payload)
    assert len(line) < 2000
    assert json.loads(line)["queries_total"] == len(names)


def _run_scaling():
    import importlib.util

    path = Path(__file__).resolve().parents[1] / "bench" / "run_scaling.py"
    spec = importlib.util.spec_from_file_location("run_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _legs(*docs_per_sec):
    return [{"docs_per_sec": v} for v in docs_per_sec]


def test_bracketed_pair_math():
    """Each 4N leg is judged against the mean of its two N neighbours;
    the session number is the median of those pair efficiencies."""
    pairs, median = _run_scaling().bracketed_pairs(
        _legs(1000, 3600, 800, 2880, 800))
    assert pairs == [
        # 3600 / (4 * 900), 3600 / 4000, 3600 / 3200, |1000 - 800| / 900
        {"hi_leg": 1, "eff": 1.0, "eff_vs_before": 0.9,
         "eff_vs_after": 1.125, "lo_spread": 0.222},
        {"hi_leg": 3, "eff": 0.9, "eff_vs_before": 0.9,
         "eff_vs_after": 0.9, "lo_spread": 0.0},
    ]
    assert median == 0.95  # even pair count: mean of the middle two

    pairs, median = _run_scaling().bracketed_pairs(
        _legs(100, 320, 100, 400, 100, 280, 100))
    assert [p["eff"] for p in pairs] == [0.8, 1.0, 0.7]
    assert median == 0.8  # odd pair count: the middle pair
