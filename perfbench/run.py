"""Extraction-engine benchmark: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload heavy_payload --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the repository root.  One invocation is one driver process on
``local[<cpus>]`` with the engine's own session (``session.get_spark``):

1. set-up: session start, Python-worker warm-up, seeded corpus generation
   written to parquet, and untimed warm-up operation(s) in that session;
2. timed phase: operations back to back (closed loop, one client) for
   about ``--seconds``, starting one only if it should end in time;
3. with ``--trace 1``: sink/lineage/commit spans around every operation,
   then the layer probes (``layers.py``);
4. output checks of every operation (``workloads.Run.check``);
5. session stop, then the process tree is waited for.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer ones with ``--trace 1``).  The line before it carries run
metadata: output digest, tail percentile and sample count, CPU canary
readings.  A failed output check makes ``correct`` false, keeps the
operation's timing out of the metrics, and exits with code 1.
``--workload all`` runs every workload in its own process and prints a
table.  Spans go to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# a heap the host holds many times over; -Xms pins it, so the JVM's peak
# resident set does not depend on when the collector grows the heap
DRIVER_MEM = "1g"
sys.path.insert(0, ROOT)

#: name -> (unit, better); BENCHMARK.json lists the same names
END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "spans_per_s": ("spans/s", "higher"),
    "increment_latency_p50_s": ("s", "lower"),
    "increment_latency_tail_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "session_start_s": ("s", "lower"),
    "worker_warmup_s": ("s", "lower"),
    "corpus_gen_s": ("s", "lower"),
    "warmup_op_s": ("s", "lower"),
    "scan_s": ("s", "lower"),
    "shuffle_s": ("s", "lower"),
    "arrow_boundary_s": ("s", "lower"),
    "extract_stage_s": ("s", "lower"),
    "parse_pdf_us_per_span": ("us", "lower"),
    "parse_html_us_per_span": ("us", "lower"),
    "parse_passthrough_us_per_span": ("us", "lower"),
    "extract_doc_docs_per_s_1core": ("docs/s", "higher"),
    **{f"{c}.{k}": (u, "higher")
       for c, u in (("spans_in", "count"), ("spans_out", "count"),
                    ("span_yield", "ratio"))
       for k in ("pdf", "html", "text", "media")},
    "sink_write_s": ("s", "lower"),
    "sink_files": ("count", "lower"),
    "sink_bytes": ("bytes", "lower"),
    "lineage_s": ("s", "lower"),
    "commit_s": ("s", "lower"),
    "manifest_entries": ("count", "lower"),
    "manifest_bytes": ("bytes", "lower"),
    "traced_latency_p50_s": ("s", "lower"),
    "latency_samples": ("count", "higher"),
    "latency_tail_pct": ("%", "higher"),
}


def _configure_env(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``workdir``
    and let the Python workers import the engine and this directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "OCR_SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        # the launcher JVM spark-submit starts first, then the driver JVM
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp}"
            f" -XX:-UsePerfData -Xms{DRIVER_MEM}'"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def start_session(workdir: str):
    _configure_env(workdir)
    from ocr_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    return get_spark("perfbench", master=f"local[{cpus}]")


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it; the JVM stops its
    Python workers on the way down."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def bench(spark, wl, seed: int, seconds: float, trace: bool, workdir: str,
          tracer, setup: dict, scale: float = 1.0) -> tuple[dict, dict, list]:
    """Run one workload in a live session; returns (end-to-end metrics,
    per-layer metrics, operations)."""
    import layers
    from spans import tail, tree_peak_rss_mb
    from workloads import Run

    run = Run(spark, wl, seed, workdir, scale)
    with tracer.span("setup.corpus_gen") as s:
        # a stream needs one file per increment; one per second of timed
        # phase and a margin covers increments of a second or more
        run.generate(increments=wl.warmup_ops + int(seconds) + 6)
    setup["corpus_gen_s"] = s["end"] - s["start"]
    with tracer.span("setup.warmup_ops") as s:
        for _ in range(wl.warmup_ops):
            run.op(warmup=True)
    setup["warmup_op_s"] = s["end"] - s["start"]

    ctx = layers.layer_spans(tracer) if trace else contextlib.nullcontext()
    with ctx, tracer.span("timed"):
        # closed loop: start the next operation only if one as long as
        # the last would end within the window, so a run measures about
        # ``seconds`` whatever an operation costs
        deadline = time.perf_counter() + seconds
        while not run.exhausted():
            with tracer.span("op") as s:
                run.op(warmup=False)
            last = s["end"] - s["start"]
            if s["end"] + last > deadline:
                break
    layer = {}
    if trace:
        path = run.watch if wl.stream else run.input
        consumed = len(run.ops) * run.docs if wl.stream else run.docs
        layer.update(layers.probe_stages(spark, tracer, path))
        layer.update(layers.probe_sink(spark, tracer, path,
                                       os.path.join(workdir, "probe_sink")))
        layer.update(layers.probe_parse(tracer, seed, wl.corpus, consumed))
    with tracer.span("check"):
        run.check()
    peak = tree_peak_rss_mb()
    med = statistics.median
    timed = [o for o in run.ops if not o.warmup and o.ok]
    lat = [o.latency_s for o in timed]
    e2e = {}
    if timed:
        t_val, t_pct, _ = tail(lat)
        e2e = {
            "docs_per_s": sum(o.docs for o in timed) / sum(lat),
            "spans_per_s": sum(o.spans for o in timed) / sum(lat),
            "increment_latency_p50_s": med(lat),
            "increment_latency_tail_s": t_val,
            "setup_s": sum(setup.values()),
            "peak_rss_mb": peak,
        }
        layer.update({
            "traced_latency_p50_s": med(lat),
            "latency_samples": len(lat),
            "latency_tail_pct": t_pct,
        })
    if trace:
        from ocr_spark.sources.formats import ParquetManifestTable

        table = run.ops[-1].table
        layer.update(setup)
        layer["lineage_s"] = med(tracer.durations("lineage"))
        layer["commit_s"] = med(tracer.durations("commit"))
        layer["manifest_entries"] = len(ParquetManifestTable(table).lineage())
        layer["manifest_bytes"] = os.path.getsize(
            os.path.join(table, "_manifest.json"))
    return e2e, layer, run.ops


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            scale: float = 1.0) -> tuple[dict, dict]:
    """One workload in one session; returns (result line, metadata)."""
    from spans import Tracer, cpu_canary

    canary_start = cpu_canary()
    run_id = f"{workload}-s{seed}-t{int(trace)}-{uuid.uuid4().hex[:8]}"
    workdir = os.path.join(WORK, run_id)
    tracer = Tracer(run_id)
    setup: dict = {}
    try:
        with tracer.span("setup.session_start") as s:
            spark = start_session(workdir)
        setup["session_start_s"] = s["end"] - s["start"]
        try:
            import layers
            from workloads import WORKLOADS

            with tracer.span("setup.worker_warmup") as s:
                n = spark.sparkContext.defaultParallelism
                spark.range(0, n, 1, n).mapInPandas(
                    layers.identity, "id long").count()
            setup["worker_warmup_s"] = s["end"] - s["start"]
            e2e, layer, ops = bench(spark, WORKLOADS[workload], seed, seconds,
                                    trace, workdir, tracer, setup, scale)
        finally:
            stop_session(spark)
        canary_end = cpu_canary()
    finally:
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        shutil.rmtree(workdir, ignore_errors=True)

    failed = [o for o in ops if not o.ok]
    timed = [o for o in ops if not o.warmup]
    first = next((o for o in timed if o.ok), None)
    meta = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "output_digest": first.digest if first else None,
        "ops": len(ops), "timed_ops": len(timed),
        "latency_samples": layer.get("latency_samples"),
        "latency_tail_pct": layer.get("latency_tail_pct"),
        "cpu_canary_s": {"start": canary_start, "end": canary_end},
        "problems": {o.index: o.error or o.problems for o in failed},
    }
    names, values = (PER_LAYER, layer) if trace else (END_TO_END, e2e)
    metrics = {k: {"value": values[k], "unit": unit}
               for k, (unit, _) in names.items() if k in values}
    result = {"correct": not failed and len(metrics) == len(names),
              "attempted": len(ops), "failed": len(failed),
              "metrics": metrics}
    return result, meta


def run_all(args) -> int:
    """Every workload, each in its own process; prints one table."""
    from workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = p.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"{name}: no result (exit {p.returncode})")
            print(p.stderr[-2000:])
            status = 1
            continue
        status |= p.returncode != 0 or not res["correct"]
        print(f"{name}: correct={res['correct']} attempted={res['attempted']}"
              f" failed={res['failed']}")
        for k, m in res["metrics"].items():
            print(f"  {k:32s} {m['value']:>16.6g} {m['unit']}")
    return int(status)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the self-tests shrink every input to toy size with this
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    from workloads import WORKLOADS

    if args.workload not in (*WORKLOADS, "all"):
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)} or all")
    if args.workload == "all":
        return run_all(args)
    result, meta = run_one(args.workload, args.seed, args.seconds,
                           bool(args.trace), args.scale)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
