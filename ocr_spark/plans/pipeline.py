"""E1→E11 end-to-end extraction job with lineage + idempotent restart.

Spec: BASELINE.json:6 — "... writes extracted spans back to Iceberg with
per-partition lineage rows (partition id, doc counts, checksum,
watermark) enabling idempotent checkpoint restart of failed partitions
only."  Reference code: REF:unavailable (SURVEY.md §0).

Unit of commit = salt bucket (stable pure function of doc_id — physical
partition ids would not survive a parallelism change; see
operators/skew.py).  Work proceeds in waves of buckets; each wave is
written to its own run directory and committed to the manifest
atomically, so a crash loses at most the in-flight wave and a restart
anti-joins pending buckets against committed lineage (E10) and
reprocesses only those.

Physical plan per wave (SURVEY.md §3/EP1):
  BatchScan(parquet, pruned to doc_id+spans)
    → Filter(bucket ∈ wave ∧ bucket ∉ committed)      [partition pruning]
    → Exchange(hash(bucket))                           [E2 — the ONLY shuffle]
    → MapInPandas(E3–E7 fused, Arrow batches)
    → WriteFiles(partitionBy bucket)
Lineage aggregates are computed from the files actually written (so the
checksum covers the sink, not the plan), then the manifest swap commits.

Every entry point — run_extract's waves, stream_extract's micro-batches,
the sink-less extract_dataframe — runs a wave through ``balanced_extract``
(shuffle key, chunk choice, sink row hash) and ``commit_wave``.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_spark.config import DEFAULT, ExtractConfig
from ocr_spark.operators.extract import extract_stage
from ocr_spark.operators.skew import (
    bucket_clustered_repartition,
    chunk_spans,
    reassemble_chunks,
    with_bucket,
)
from ocr_spark.sources.formats import (
    ParquetManifestTable,
    lineage_exprs,
    open_table,
)


def _wave_lineage(spark: SparkSession, wave_dir: str, run_id: str,
                  watermark: str) -> list[dict]:
    # The per-doc hash + span count were computed JVM-side in the write
    # pass and stored as plain int64 columns, so this verification scan
    # prunes to three tiny columns — it never re-deserializes the nested
    # span payloads (measured: the old to_json re-read was a fixed ~7s
    # that did not scale with cores and dominated Amdahl overhead).
    df = spark.read.option("basePath", wave_dir).parquet(wave_dir)
    # shared chunk-aware convention (formats.lineage_exprs): doc rows are
    # the chunk_id==0 (or null) rows, so documents are counted without a
    # countDistinct — whose extra distinct pass is pure fixed overhead.
    # The checksum here reads the STORED doc_hash column (cheap pruned
    # scan — the write pass computed it with the same lineage_exprs
    # hash); the deep payload-rehash lives in ParquetManifestTable.verify.
    is_doc, _ = lineage_exprs(df)
    rows = (
        df.groupBy("bucket")
        .agg(
            F.count(F.when(is_doc, 1)).alias("doc_count"),
            F.sum("n_spans").alias("span_count"),
            # order-insensitive per-bucket checksum over canonical doc payloads
            F.expr("bit_xor(doc_hash)").alias("checksum"),
        )
        .collect()
    )
    return [
        {
            "bucket": int(r["bucket"]),
            "run_id": run_id,
            "path": f"{wave_dir}/bucket={int(r['bucket'])}",
            "doc_count": int(r["doc_count"]),
            "span_count": int(r["span_count"]),
            "checksum": format(r["checksum"] & (2**64 - 1), "016x"),
            "watermark": watermark,
        }
        for r in rows
    ]


def balanced_extract(docs: DataFrame, cfg: ExtractConfig = DEFAULT,
                     num_partitions: int | None = None) -> DataFrame:
    """E2→E7 on ``(doc_id, spans, bucket)``: the one shuffle, the fused
    extract stage, and the sink columns — ``bucket``, the per-row
    ``doc_hash`` (formats.lineage_exprs) and ``n_spans`` — computed once,
    JVM-side, in the write pass, so the per-wave lineage scan reads only
    those pruned columns.  With cfg.chunk_max_spans set the rows are
    chunk rows (extra ``chunk_id``); stitch_extracted restitches them."""
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.select("doc_id", "spans", "bucket")
    # ONE exchange, clustered by the salt bucket: balances extraction
    # work (bucket = uniform hash of doc_id, several buckets per task)
    # AND pre-clusters rows for the partitionBy("bucket") sink, so the
    # writer never pays the dynamic-partition sort over wide nested
    # span rows (measured 10x slower at local[32] when shuffle key and
    # write partition column disagreed).  With chunk_max_spans set,
    # mega-docs are first sub-split into bounded chunk rows (E2 weight
    # variant) and chunk_id joins the shuffle key, so one 500x-median
    # doc spreads over many tasks instead of becoming the straggler;
    # chunks of a doc share the bucket dir since bucket = f(doc_id).
    if cfg.chunk_max_spans:
        chunked = chunk_spans(docs, cfg.chunk_max_spans)
        raw = extract_stage(chunked.repartition(n, "bucket", "chunk_id"),
                            cfg, passthrough={"chunk_id": "int"})
    else:
        raw = extract_stage(bucket_clustered_repartition(docs, n), cfg)
    _, row_hash = lineage_exprs(raw)
    extracted = with_bucket(raw, cfg).withColumns({
        # xxhash64 hashes the nested span array directly — 2x cheaper
        # than serializing through to_json, same determinism
        "doc_hash": row_hash,
        "n_spans": F.size("spans"),
    })
    if cfg.chunk_max_spans:
        # Re-cluster the EXTRACTED chunk rows by bucket before the
        # sink.  Trade-off (round-2 ADVICE): the (bucket, chunk_id)
        # shuffle above spreads a mega-doc's chunks across tasks —
        # that's the whole point — but it leaves every writer task
        # holding rows of MANY buckets, so the partitionBy("bucket")
        # sink would emit O(num_partitions) small files per bucket
        # dir and run its dynamic-partition sort over fully
        # interleaved keys.  One extra Exchange of the extracted
        # rows restores the unsplit path's sink layout: one file per
        # bucket per wave, bucket-contiguous sort runs, and the
        # lineage/verify scans read ~16x fewer files.  The UDF stage
        # upstream keeps its chunk-level balance either way.
        extracted = extracted.repartition(n, "bucket")
    return extracted


def commit_wave(spark: SparkSession, tbl: ParquetManifestTable,
                extracted: DataFrame, run_id: str, watermark: str,
                buckets: set[int] | None = None, append_runs: bool = False,
                phase: dict | None = None) -> list[dict]:
    """E8 write → E9 lineage → atomic commit of the entries of
    ``buckets`` (a run dir accumulates across the waves of one run;
    None = all).  Adds write/lineage/commit seconds to ``phase``;
    returns the committed entries."""
    t_w = time.time()
    wave_dir = tbl.write_wave(extracted, run_id)              # E8
    t_l = time.time()
    entries = [
        e for e in _wave_lineage(spark, wave_dir, run_id, watermark)
        if buckets is None or e["bucket"] in buckets
    ]                                                         # E9
    t_c = time.time()
    tbl.commit(entries, append_runs=append_runs)              # atomic commit
    if phase is not None:
        phase["write"] += t_l - t_w
        phase["lineage"] += t_c - t_l
        phase["commit"] += time.time() - t_c
    return entries


def run_extract(
    spark: SparkSession,
    docs: DataFrame,
    out_table: str,
    cfg: ExtractConfig = DEFAULT,
    num_partitions: int | None = None,
    run_id: str | None = None,
    wave_size: int | None = None,
    fail_after_waves: int | None = None,  # test hook for restart tests
) -> dict:
    """Run the full pipeline; returns E11 metrics.

    Restart semantics: calling run_extract again with the same out_table
    processes only buckets absent from the committed manifest.
    """
    t0 = time.time()
    tbl = open_table(out_table)
    assert isinstance(tbl, ParquetManifestTable) or wave_size is None
    run_id = run_id or uuid.uuid4().hex[:12]
    watermark = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())

    committed = tbl.committed_buckets()
    pending = sorted(set(range(cfg.salt_buckets)) - committed)
    wave_size = wave_size or len(pending) or 1
    waves = [pending[i : i + wave_size] for i in range(0, len(pending), wave_size)]

    docs = with_bucket(docs.select("doc_id", "spans"), cfg)
    total_docs = total_spans = 0
    phase = {"write": 0.0, "lineage": 0.0, "commit": 0.0}
    for w_idx, wave in enumerate(waves):
        if fail_after_waves is not None and w_idx >= fail_after_waves:
            raise RuntimeError(f"injected failure before wave {w_idx}")
        wave_docs = docs.filter(F.col("bucket").isin([int(b) for b in wave]))
        entries = commit_wave(
            spark, tbl, balanced_extract(wave_docs, cfg, num_partitions),
            run_id, watermark, buckets=set(wave), phase=phase)
        total_docs += sum(e["doc_count"] for e in entries)
        total_spans += sum(e["span_count"] for e in entries)

    elapsed = time.time() - t0
    return {  # E11 metrics — BASELINE.json:2 (docs/sec, spans/sec)
        "run_id": run_id,
        "docs": total_docs,
        "spans": total_spans,
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(total_docs / elapsed, 2) if elapsed else None,
        "spans_per_sec": round(total_spans / elapsed, 2) if elapsed else None,
        "waves": len(waves),
        "skipped_buckets": len(committed),
        "phase_sec": {k: round(v, 3) for k, v in phase.items()},
    }


def extract_dataframe(docs: DataFrame, cfg: ExtractConfig = DEFAULT,
                      num_partitions: int | None = None) -> DataFrame:
    """Sink-less variant (EP2 flagship query): E1→E7 only, through the
    same balanced extract as the job, returned as document rows either
    way (chunk path property-tested equal to the unsplit path in
    tests/test_extract_semantics.py)."""
    docs = with_bucket(docs.select("doc_id", "spans"), cfg)
    return stitch_extracted(balanced_extract(docs, cfg, num_partitions))


def stitch_extracted(df: DataFrame) -> DataFrame:
    """Whole-document view of a stored extraction table: if the table
    holds chunk rows (chunk_max_spans path), restitch them — JVM
    collect/sort/flatten/renumber, one shuffle on doc_id; a doc-granular
    table passes through untouched."""
    if "chunk_id" not in df.columns:
        return df.select("doc_id", "spans")
    return reassemble_chunks(df.select("doc_id", "chunk_id", "spans"))
