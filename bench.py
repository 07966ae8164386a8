"""Per-round benchmark harness (driver contract).

Runs the headline queries from the registry plus the full E1→E9
extraction job at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": 0.1, ...}

Each query is forced end-to-end with a noop-format write (full
materialization on executors, nothing collected to the driver), so the
timings cover scan → shuffle → sink, not just plan construction.
Scaling-efficiency evidence (same job at N vs 4N cores) comes from
bench/run_scaling.py, one bracketed session per run, and the pooled
verdict in BENCH/BASELINE.md; this file is the per-round
single-parallelism snapshot the driver records as BENCH_r{N}.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# Headline set: one representative per operator family (SURVEY.md §2),
# weighted toward the ops that dominate a 100 TB run — wide scans,
# shuffled joins/aggs, window functions, dedup/similarity, extraction.
HEADLINE = [
    "tpch_q1",
    "scan_filter_prune",
    "join_inner",
    "join_broadcast",
    "join_asof",
    "agg_rollup",
    "agg_vectorized_udaf",
    "agg_salted_twophase",
    "agg_percentile",
    "join_bucketed",
    "window_rank",
    "topk_per_group",
    "json_funcs",
    "events_tumbling_window",
    "events_sessionize",
    "text_quality_score",
    "text_lang_id",
    "dedup_exact",
    "dedup_apply_keep_best",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans",
    "join_salted_skew",
    "vec_cosine_neardup",
    "vocab_topk",
    "pack_token_budget",
    "decontaminate_vs_holdout",
    "text_tfidf_topk",
    "events_funnel",
    "url_canonicalize",
    # round 4: new curation/analytics operators
    "text_bm25_topk",
    "graph_pagerank",
    "vec_quantize_int8",
    "events_attribution",
    "window_distribution",
    "dedup_semantic",
    "tpch_q3",
    "events_downsample_ohlc",
    "mix_to_target_distribution",
    "filter_quality_gate",
    "text_bigram_logprob",
    "events_anomaly_mad",
    "dedup_incremental_vs_corpus",
    "sink_compact_small_files",
    "tpch_q5",
    "tpch_q10",
    "window_percent_rank",
    "unpivot_long",
    "table_profile",
    "vec_rrf_fusion",
    "dedup_fuzzy_blocked",
    # round 4, late additions
    "graph_triangle_count",
    "events_sliding_distinct",
    "tpch_q6",
    "tpch_q13",
    "tpch_q18",
    "tpch_q19",
    "tpch_q9",
    "tpch_q21",
    "events_markov_transitions",
    "agg_cms_heavy_hitters",
    "dedup_containment",
    "snapshot_diff",
    "diag_expectations",
    "vec_knn_graph",
    "text_cooccurrence_pmi",
    "agg_histogram_equidepth",
    # round 5: derived-partsupp TPC-H completions
    "tpch_q2",
    "tpch_q11",
    "tpch_q20",
    # round 5: interval join, weighted quantile, temperature mix
    "join_interval_overlap",
    "agg_weighted_median",
    "window_cume_dist",
    "sample_temperature",
    "events_gap_islands",
    "graph_common_neighbors",
]

# Iterative operators run their rounds EAGERLY at build time (hash-min
# propagation materializes each round via localCheckpoint), so timing
# only the returned frame would skip the real work — these re-invoke
# the builder inside the timed region instead.  One timed pass (after a
# warm build), not a median of 3: the cost is dominated by the edge
# build (the dedup_ngram_jaccard pipeline, the repo's costliest text
# op at sf0.1 — the propagation rounds are sub-second), and tripling a
# ~20s composite would double the whole bench for one line.
# dedup_substring_window rides here too: ~8s/run at sf0.1 (window
# explode over the doubled corpus is inherent); a single timed pass
# keeps the bench bounded without dropping the costliest text op.
BUILDER_TIMED = ["dedup_connected_components", "dedup_substring_window"]


def _force(df) -> int:
    """Materialize the full result on executors; return row count."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def calibration_sec(iters: int = 1_500_000) -> float:
    """Drift canary: a fixed single-threaded CPU-bound workload, timed.
    The sandbox host's throughput swings 2-4x between minutes-long
    windows (BENCH/BASELINE.md methodology), which made raw wall-clock
    comparisons across rounds noise.  The canary's time scales with the
    same contention, so cross-round query comparisons should be read as
    (query_sec / calibration_sec) ratios; the raw canary value is
    recorded alongside every benchmark JSON."""
    import hashlib

    t0 = time.time()
    h = b"ocr_spark_calibration"
    for _ in range(iters):
        h = hashlib.sha256(h).digest()
    return round(time.time() - t0, 4)


def _membw_pass(mb: int) -> float:
    """One worker: allocate ``mb`` MB (far above LLC), return the best
    per-pass bandwidth in GB/s over three sequential-sum passes."""
    import numpy as np

    arr = np.ones(mb * 131_072, dtype=np.float64)  # mb MB of float64
    best = float("inf")
    for _ in range(5):
        t0 = time.time()
        arr.sum()
        best = min(best, time.time() - t0)
    return round(mb / 1024 / best, 3)


def membw_canary(procs: int = 8, mb: int = 512) -> float:
    """Memory-bandwidth canary: the WORST per-process sequential-read
    bandwidth (GB/s) across ``procs`` concurrent readers of ``mb``-MB
    buffers.  The extraction job is memory-heavy, and the sandbox VM's
    dominant contention mode is CO-TENANT MEMORY TRAFFIC: windows exist
    where a 16-process integer canary stays fast (all cores available)
    while multi-core Spark legs deliver ~60% of their quiet-window
    throughput (measured 2026-08-20; the round-4 session-AC signature).
    CPU canaries are blind to that mode; concurrent achievable
    bandwidth is the instrument that sees it."""
    import multiprocessing as mp

    with mp.Pool(procs) as pool:
        return min(pool.map(_membw_pass, [mb] * procs))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    calib_start = calibration_sec()
    membw_start = membw_canary()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ocr_spark_bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ocr_spark.plans import registry

    registry.load_all()

    # Median of REPEATS timed runs after one warm run: the sandbox VM's
    # throughput drifts 2-4x in minutes-long windows (BENCH/BASELINE.md
    # methodology), so single-shot timings made round-over-round
    # comparisons noise.  The median of 3 damps one throttled window.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings: dict[str, float] = {}

    def timed(name: str, df) -> None:
        _force(df)  # warm: codegen compiled, Python UDF workers spawned
        runs = []
        for _ in range(repeats):
            t0 = time.time()
            _force(df)
            runs.append(time.time() - t0)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)

    for name in HEADLINE:
        fn = registry.QUERIES.get(name)
        if fn is not None:
            timed(name, fn(spark, sf_dir))

    for name in BUILDER_TIMED:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        _force(fn(spark, sf_dir))  # warm
        t0 = time.time()
        _force(fn(spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)

    # FULL-SWEEP variants of the planted-projection queries: the
    # registered dedup_simhash / ann_lsh_bucketed prune to the planted
    # pairs (their hash-checkable oracle form), so Catalyst pushes the
    # planted-id predicate into the candidate joins — the bench must
    # time the unpruned operators a real pipeline runs.
    from pyspark.sql import functions as F

    from ocr_spark.plans.queries_text import _dup_docs, simhash_pairs
    from ocr_spark.plans.queries_vec import lsh_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    dupe = e.unionByName(
        e.filter(F.col("vec_id") < 100).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"))
    timed("dedup_simhash_full", simhash_pairs(_dup_docs(spark, sf_dir)))
    timed("ann_lsh_bucketed_full", lsh_pairs(dupe))

    # Flagship extraction job: E1→E9 on a deterministic synthetic corpus
    # scaled with sf (sf0.1 → 10000 docs incl. mega-doc skew), full write
    # with lineage commit.  At this corpus size the fixed per-wave
    # commit/lineage overhead dominates (BENCH/BASELINE.md runs 200k+
    # docs and sustains ~20x the docs/sec), so a second, larger corpus
    # with pre-spun UDF workers reports the steady-state throughput the
    # e2e number under-states.
    from ocr_spark.plans.pipeline import run_extract
    from ocr_spark.sources.corpus import generate_interleaved

    n_docs = max(300, int(100000 * sf)) if sf > 0 else 1000
    out = tempfile.mkdtemp(prefix="bench_extract_")
    out2 = tempfile.mkdtemp(prefix="bench_extract_steady_")
    try:
        docs = generate_interleaved(spark, n_docs, seed=42, partitions=cpus)
        docs = docs.localCheckpoint()  # time extraction, not corpus synthesis
        t0 = time.time()
        metrics = run_extract(spark, docs, out)
        timings["extract_pipeline_e2e"] = round(time.time() - t0, 3)
        steady_docs = generate_interleaved(
            spark, 4 * n_docs, seed=43, partitions=cpus).localCheckpoint()
        # spin up the Python UDF workers before the steady-state timer: on
        # a long-lived cluster they exist before the job's first byte
        def noop(batches):
            yield from batches

        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).mapInPandas(noop, "id long").count()
        steady = run_extract(spark, steady_docs, out2)
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)

    # both canary ends are read with no live JVM, like the start readings
    spark.stop()
    calib_end = calibration_sec()
    membw_end = membw_canary()
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "repeats": repeats,
        # drift canary (fixed single-thread CPU workload) sampled at both
        # ends of the run: compare rounds via value/calibration ratios
        "calibration_sec": round((calib_start + calib_end) / 2, 4),
        "calibration_sec_start": calib_start,
        "calibration_sec_end": calib_end,
        # memory-bandwidth instrument at both ends: the better
        # contention diagnostic for this host (a 10-leg sweep correlated
        # it 0.74 with local[8] throughput vs 0.42 for the CPU canary);
        # quiet windows read >= ~9.2 GB/s
        "membw_gbps_start": membw_start,
        "membw_gbps_end": membw_end,
        "extract_docs_per_sec": metrics.get("docs_per_sec"),
        "extract_spans_per_sec": metrics.get("spans_per_sec"),
        "extract_steady_docs_per_sec": steady.get("docs_per_sec"),
        "extract_steady_spans_per_sec": steady.get("spans_per_sec"),
        "extract_steady_n_docs": steady.get("docs"),
    }
    # The per-round recorder keeps only the LAST 2000 chars of stdout
    # and parses the final JSON line from that window; with 95+ timed
    # queries the full line outgrew it in round 4 (BENCH_r04.json has
    # parsed=None — the line's head was cut off).  So: persist the full
    # payload to BENCH/bench_full.json, print it once for logs, then
    # end stdout with a compact line that always fits — same top-level
    # metrics, queries trimmed to the slowest entries that keep the
    # line under budget (they dominate `value` anyway), plus a pointer
    # to the full map.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH", "bench_full.json")
    try:
        with open(full_path, "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass  # read-only checkout: stdout full line still carries it
    print(json.dumps(payload))
    print(compact_line(payload))


def compact_line(payload: dict, budget: int = 1800) -> str:
    """The final stdout line: ``payload`` with the per-query map trimmed
    to the slowest entries that keep the serialized line under
    ``budget`` chars (< the recorder's 2000-char stdout tail), so the
    driver's tail-parse always sees one complete JSON line.  The full
    map lives in BENCH/bench_full.json and the preceding full-payload
    line."""
    compact = {k: v for k, v in payload.items()
               if k not in ("queries", "calibration_sec_start",
                            "calibration_sec_end")}
    timings = payload.get("queries", {})
    compact["queries_total"] = len(timings)
    compact["queries_full"] = "BENCH/bench_full.json"
    compact["queries"] = {}
    for name, sec in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        compact["queries"][name] = sec
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            break
    compact["queries_elided"] = len(timings) - len(compact["queries"])
    return json.dumps(compact, separators=(",", ":"))


if __name__ == "__main__":
    sys.exit(main())
