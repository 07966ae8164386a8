"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The Spark tests start their own session (or a toy-size benchmark
process) and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from unittest import mock

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from spans import Tracer, tail  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- latency statistics and spans -------------------------------------------

def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100, passed in reverse
    value, pct, beyond = tail(xs[::-1])
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert sum(x > value for x in xs) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
    value, pct, beyond = tail(xs)
    assert value == 1.0 and beyond == 10
    assert pct == pytest.approx(100 / 11)


def test_tail_without_enough_samples_reports_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert tail([float(i) for i in range(10)]) == (9.0, 100.0, 0)
    with pytest.raises(ValueError):
        tail([])


def test_self_time_subtracts_overlapping_children_once():
    t = Tracer("r")
    with t.span("parent") as p:
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    # rewrite the clock readings: parent 0..10, children 1..4 and 3..6
    p["start"], p["end"] = 0.0, 10.0
    t.spans[1].update(start=1.0, end=4.0)
    t.spans[2].update(start=3.0, end=6.0)
    assert t.self_time(p) == pytest.approx(5.0)
    assert [s["parent"] for s in t.spans] == [None, 0, 0]


# -- names ---------------------------------------------------------------------

def test_names_match_benchmark_json_and_grammar():
    from workloads import WORKLOADS

    b = _benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["why"] == WORKLOADS[w["name"]].why
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for key, table in (("end_to_end", run.END_TO_END),
                       ("per_layer", run.PER_LAYER)):
        got = {m["name"]: (m["unit"], m["better"]) for m in b[key]}
        assert got == table, key
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for k in ("end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(UNIT.fullmatch(m["unit"])
               for k in ("end_to_end", "per_layer") for m in b[k])
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60


# -- output check --------------------------------------------------------------

@pytest.fixture
def spark(tmp_path):
    with mock.patch.dict(os.environ):
        s = run.start_session(str(tmp_path / "session"))
        try:
            yield s
        finally:
            run.stop_session(s)


def test_check_fails_an_operation_whose_bucket_file_was_tampered(
        spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workloads import WORKLOADS, Run

    r = Run(spark, WORKLOADS["heavy_payload"], seed=3,
            workdir=str(tmp_path / "run"), scale=0.01)
    r.generate()
    op = r.op(warmup=False)
    r.check()
    assert op.ok, op.problems

    # change one span's text in one committed bucket file, and drop the
    # file's checksum sidecar as a silent corruption would
    path = next(os.path.join(d, f)
                for d, _, fs in os.walk(os.path.join(op.table, "data"))
                for f in sorted(fs) if f.endswith(".parquet"))
    t = pq.read_table(path)
    rows = t.to_pylist()
    span = next(s for row in rows for s in row["spans"] if s["text"])
    span["text"] += " tampered"
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)
    d, f = os.path.split(path)
    os.remove(os.path.join(d, f".{f}.crc"))

    op.problems.clear()
    r.check()
    assert not op.ok
    assert any("lineage says" in p for p in op.problems)


# -- whole runs ----------------------------------------------------------------

def _bench(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        capture_output=True, text=True, cwd=cwd, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["heavy_payload", "stream_increments"])
def test_toy_size_run_reports_every_metric(workload, trace):
    p = _bench(["--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--scale", "0.02"])
    assert p.returncode == 0, p.stderr[-3000:]
    *_, meta_line, last = p.stdout.strip().splitlines()
    res, meta = json.loads(last), json.loads(meta_line)["meta"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        k: u for k, (u, _) in want.items()}
    assert re.fullmatch(r"[0-9a-f]{16}", meta["output_digest"])


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(["--workload", "heavy_payload", "--seed", "1",
                "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
