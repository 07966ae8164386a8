"""E1→E11 end-to-end extraction job with lineage + idempotent restart.

Spec: BASELINE.json:6 — "... writes extracted spans back to Iceberg with
per-partition lineage rows (partition id, doc counts, checksum,
watermark) enabling idempotent checkpoint restart of failed partitions
only."  Reference code: REF:unavailable (SURVEY.md §0).

Unit of commit = salt bucket (stable pure function of doc_id — physical
partition ids would not survive a parallelism change; see
operators/skew.py).  Work proceeds in waves of buckets; every wave
writes one file per task into its own fresh directory of the run
(``bucket`` stays a data column), and the wave's buckets are committed
to the manifest atomically, so a crash loses at most the in-flight wave
and a restart anti-joins pending buckets against committed lineage
(E10) and reprocesses only those, into a new wave directory.

Physical plan per wave (SURVEY.md §3/EP1):
  BatchScan(parquet, pruned to doc_id+spans)
    → Filter(bucket ∈ wave ∧ bucket ∉ committed)      [partition pruning]
    → Exchange(hash(bucket))                           [E2 — the ONLY shuffle]
    → MapInPandas(E3–E7 fused, Arrow batches)
    → WriteFiles(run=<id>/wave=<w>/, one file per task)
With chunk_max_spans set, the Exchange is on (bucket, chunk_id) and a
second Exchange(hash(bucket)) feeds the chunk restitch before the sink,
so the table stores the same whole-document rows either way.
Lineage aggregates are computed from the files actually written (so the
checksum covers the sink, not the plan), then the manifest swap commits.

Every entry point — run_extract's waves, stream_extract's increments,
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
    checksum_hex,
    lineage_exprs,
    open_table,
    wave_name,
)


def _wave_lineage(spark: SparkSession, wave_dir: str, run_id: str,
                  watermark: str) -> list[dict]:
    # The per-doc hash + span count were computed JVM-side in the write
    # pass and stored as plain int64 columns, so this verification scan
    # prunes to three tiny columns — it never re-deserializes the nested
    # span payloads (measured: the old to_json re-read was a fixed ~7s
    # that did not scale with cores and dominated Amdahl overhead).  The
    # explicit schema skips footer inference.  wave_dir is this wave's
    # own directory and holds only its buckets (every writer filters its
    # input to them), so earlier waves of the run are never re-read.  The
    # checksum reads the STORED doc_hash column; the deep payload-rehash
    # lives in ParquetManifestTable.verify.  coalesce(1) makes the scan
    # and the aggregate one single-task stage with no shuffle: a wave's
    # lineage columns are 16 bytes a document, and on a busy 4-core host
    # the extra stage (4 scan tasks, an exchange, an adaptive re-plan)
    # made stream increments' throughput spread 1.3x wider run to run.
    wave = wave_name(wave_dir)
    rows = (
        spark.read.schema("bucket INT, doc_hash BIGINT, n_spans INT")
        .parquet(wave_dir)
        .coalesce(1)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("doc_count"),
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
            "wave": wave,
            "doc_count": int(r["doc_count"]),
            "span_count": int(r["span_count"]),
            "checksum": checksum_hex(r["checksum"]),
            "watermark": watermark,
        }
        for r in rows
    ]


def balanced_extract(docs: DataFrame, cfg: ExtractConfig = DEFAULT,
                     num_partitions: int | None = None) -> DataFrame:
    """E2→E7 on ``(doc_id, spans, bucket)``: the shuffle, the fused
    extract stage, and the sink columns — ``bucket``, the per-doc
    ``doc_hash`` (formats.lineage_exprs) and ``n_spans`` — computed once,
    JVM-side, in the write pass, so the per-wave lineage scan reads only
    those pruned columns.  Rows are whole documents on either path."""
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.select("doc_id", "spans", "bucket")
    if cfg.chunk_max_spans:
        # E2 weight variant: mega-docs are sub-split into bounded chunk
        # rows and chunk_id joins the shuffle key, so one 500x-median doc
        # spreads over many tasks instead of becoming the straggler.  The
        # second exchange, on bucket, restitches each doc (its chunks
        # share a bucket, so the (doc_id, bucket) grouping needs no
        # further shuffle) and leaves the sink the unsplit path's layout.
        chunked = chunk_spans(docs, cfg.chunk_max_spans)
        raw = extract_stage(chunked.repartition(n, "bucket", "chunk_id"), cfg,
                            passthrough={"chunk_id": "int", "bucket": "int"})
        extracted = reassemble_chunks(raw.repartition(n, "bucket"))
    else:
        # ONE exchange, clustered by the salt bucket: balances extraction
        # work (bucket = uniform hash of doc_id, several buckets per task).
        raw = extract_stage(bucket_clustered_repartition(docs, n), cfg)
        extracted = with_bucket(raw, cfg)
    _, doc_hash = lineage_exprs(extracted)
    return extracted.withColumns({
        # xxhash64 hashes the nested span array directly — 2x cheaper
        # than serializing through to_json, same determinism
        "doc_hash": doc_hash,
        "n_spans": F.size("spans"),
    })


def commit_wave(spark: SparkSession, tbl: ParquetManifestTable,
                extracted: DataFrame, run_id: str, watermark: str,
                consumed: list[str] | None = None,
                phase: dict | None = None) -> list[dict]:
    """E8 write into a fresh wave directory → E9 lineage of that
    directory → atomic commit of its entries, and of ``consumed``, the
    input files of a stream increment (ParquetManifestTable.commit).
    Adds write/lineage/commit seconds to ``phase``; returns the entries
    the commit kept (in batch mode, commit skips those of buckets
    another run committed first; in stream mode, all or none)."""
    t_w = time.time()
    wave_dir = tbl.write_wave(extracted, run_id)              # E8
    t_l = time.time()
    entries = _wave_lineage(spark, wave_dir, run_id, watermark)  # E9
    t_c = time.time()
    kept = tbl.commit(entries, consumed)                      # atomic commit
    if phase is not None:
        phase["write"] += t_l - t_w
        phase["lineage"] += t_c - t_l
        phase["commit"] += time.time() - t_c
    return kept


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
        # one SQL expression, not isin() over Python ints: isin makes one
        # Py4J call per literal (256 for a one-wave run, 0.14-0.19 s of
        # driver time per heavy_payload operation)
        wave_docs = docs.filter(
            f"bucket IN ({', '.join(str(int(b)) for b in wave)})")
        entries = commit_wave(
            spark, tbl, balanced_extract(wave_docs, cfg, num_partitions),
            run_id, watermark, phase=phase)
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
    same balanced extract as the job (chunk path property-tested equal
    to the unsplit path in tests/test_extract_semantics.py)."""
    docs = with_bucket(docs.select("doc_id", "spans"), cfg)
    return balanced_extract(docs, cfg, num_partitions).select("doc_id", "spans")
