"""One bracketed N-vs-4N scaling session → one JSON line on stdout.

The north rule's scaling criterion (throughput(4N) / (4·throughput(N))
≥ 0.8 across two cluster sizes, BASELINE.json:2/:14) cannot use a real
multi-executor cluster in this sandbox; the sanctioned proxy is the SAME
job on the SAME input at two parallelism levels (N and 4N cores).

Each leg runs in its own fresh JVM via spark-submit --py-files (the
production packaging, BASELINE.json:6), reading one pre-generated
fixed-seed corpus parquet, so the only variable is executor-thread
count.  Throughput comes from the job's own E11 metrics line (timed
inside run_extract: scan → salted shuffle → fused Arrow extract stage →
partitioned write + lineage commit; excludes JVM/session startup, but
includes the Python UDF workers' first start-up, charged at both
levels).

Legs are INTERLEAVED N, 4N, N, …, 4N, N so every 4N leg is bracketed by
two N legs inside the same host drift window; the session's number is
the median of the bracketed pair efficiencies (see bracketed_pairs).
The drift canaries bench.calibration_sec() and bench.membw_canary() are
read before each leg and recorded with it; they never gate a leg.

Usage:  python bench/run_scaling.py [--docs 200000] [--repeats 3]
Writes nothing tracked in the repository (legs and corpus go under
--workdir; ocr_spark.zip is git-ignored).  The pooled verdict over past
sessions is BENCH/scaling_pooled.json, summarized in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # runnable as `python bench/run_scaling.py`


def _gen_corpus(n_docs: int, path: str, heft: int = 1) -> None:
    from ocr_spark.session import get_spark
    from ocr_spark.sources.corpus import generate_interleaved

    spark = get_spark("scaling_gen", master="local[32]", shuffle_partitions=32)
    generate_interleaved(spark, n_docs, seed=42, partitions=64,
                         heft=heft).write.mode("overwrite").parquet(path)
    spark.stop()


def _run_level(cores: int, corpus: str, out: str, zip_path: str,
               parts_per_core: int = 2) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        "--conf", f"spark.sql.shuffle.partitions={cores}",
        "--conf", f"spark.local.dir={os.path.dirname(out)}/spark_local",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "run_extract.py"),
        "--input", corpus,
        "--output", out,
        "--partitions", str(cores * parts_per_core),
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-4000:])
        raise RuntimeError(f"local[{cores}] run failed")
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def bracketed_pairs(legs: list[dict]) -> tuple[list[dict], float]:
    """Pair efficiencies of interleaved legs N, 4N, N, …, 4N, N (each a
    dict with ``docs_per_sec``) and their median.

    Per 4N leg: thr(4N) / (4 · mean of the two surrounding N legs) —
    drift that moves both N legs the same way cancels; drift INSIDE the
    bracket shows up as ``lo_spread``, the N legs' relative
    disagreement."""
    pairs = []
    for i in range(1, len(legs) - 1, 2):
        hi = legs[i]["docs_per_sec"]
        before, after = legs[i - 1]["docs_per_sec"], legs[i + 1]["docs_per_sec"]
        lo_mean = (before + after) / 2
        pairs.append({
            "hi_leg": i,
            "eff": round(hi / (4 * lo_mean), 3),
            "eff_vs_before": round(hi / (4 * before), 3),
            "eff_vs_after": round(hi / (4 * after), 3),
            "lo_spread": round(abs(before - after) / lo_mean, 3),
        })
    return pairs, round(statistics.median(p["eff"] for p in pairs), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200000)
    ap.add_argument("--heft", type=int, default=5,
                    help="per-doc content multiplier; 5 yields ~10 KB docs "
                         "whose compute/byte matches real OCR inputs")
    ap.add_argument("--repeats", type=int, default=3,
                    help="4N legs (bracketed pairs) in the session")
    # tmpfs by default: the criterion evidences CPU-parallel scaling of
    # the job; the sandbox VM's virtio disk has bursty latency that a
    # real cluster's distributed storage doesn't, so keep it out of the
    # measurement (both levels use the same storage either way)
    ap.add_argument("--workdir", default="/dev/shm/ocr_spark_scaling")
    ap.add_argument("--levels", type=int, nargs=2, default=(8, 32),
                    metavar=("N", "4N"),
                    help="core counts for the two cluster-size proxies; "
                         "must be 1:4 (e.g. 2 8, 8 32)")
    # 2 tasks/core leaves the 4N level exposed to last-wave stragglers
    # (8 partitions on 4 cores: one slow partition idles 3 cores); 4
    # tasks/core keeps the tail short at both levels without changing
    # the plan shape.  Kept as a flag so older runs stay reproducible.
    ap.add_argument("--parts-per-core", type=int, default=2)
    args = ap.parse_args()

    lo, hi = args.levels
    assert hi == 4 * lo, "levels must be N and 4N"

    os.makedirs(args.workdir, exist_ok=True)
    corpus = os.path.join(args.workdir, f"corpus_{args.docs}_h{args.heft}.parquet")
    if not os.path.isdir(corpus):
        _gen_corpus(args.docs, corpus, args.heft)

    from bench import calibration_sec, membw_canary  # repo-root canaries
    from make_pyfiles import build

    zip_path = build()  # ocr_spark.zip at the repo root (git-ignored)

    runs: list[dict] = []
    for idx, cores in enumerate([lo, hi] * args.repeats + [lo]):
        canary, membw = calibration_sec(), membw_canary()
        out = os.path.join(args.workdir, f"out_{cores}_{idx}")
        shutil.rmtree(out, ignore_errors=True)
        m = _run_level(cores, corpus, out, zip_path, args.parts_per_core)
        runs.append({"idx": idx, "cores": cores,
                     "docs_per_sec": m["docs_per_sec"],
                     "spans_per_sec": m["spans_per_sec"],
                     "elapsed_sec": m["elapsed_sec"],
                     "canary_sec": canary, "membw_gbps": membw})
        sys.stderr.write(
            f"leg {idx}: local[{cores}] {m['docs_per_sec']} docs/s "
            f"(canary {canary:.3f}s, membw {membw:.2f} GB/s)\n")

    pairs, median_eff = bracketed_pairs(runs)
    print(json.dumps({
        "metric": "scaling_efficiency_docs_per_sec",
        "value": median_eff,
        "unit": "ratio",
        "estimator": "median of bracketed (N,4N,N) pair efficiencies",
        "pass_0.8": median_eff >= 0.8,
        "docs": args.docs,
        "heft": args.heft,
        "parts_per_core": args.parts_per_core,
        "levels": [lo, hi],
        "bracketed_pairs": pairs,
        "legs": runs,
    }))


if __name__ == "__main__":
    main()
