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
The Exchange appears only above one task's worth of input
(``TASK_BYTES`` of local input files): a smaller wave, such as a stream
increment, is Coalesce(1) instead, one job of one task that writes one
file.  With chunk_max_spans set, the Exchange is on (bucket, chunk_id)
and a second Exchange(hash(bucket)) feeds the chunk restitch before the
sink, so the table stores the same whole-document rows either way.
Lineage aggregates are computed on the driver from the files actually
written (so the checksum covers the sink, not the plan), then the
manifest swap commits.

Every entry point — run_extract's waves, stream_extract's increments,
the sink-less extract_dataframe — runs a wave through ``balanced_extract``
(shuffle key, chunk choice, sink row hash) and ``commit_wave``.
"""

from __future__ import annotations

import math
import os
import time
import uuid
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
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

#: input bytes per extract task when balanced_extract sizes a wave from
#: its files.  Measured with commit_wave on single heft=5 files (the most
#: parse CPU per byte), one task against a 4-way exchange, local[4], 15
#: interleaved samples each, medians: 50 docs (54 KB) 0.37 vs 0.44 s,
#: 100 docs (87 KB) 0.36 vs 0.39 s, 150 docs (137 KB) 0.39 vs 0.44 s,
#: 175 docs (154 KB) 0.41 vs 0.41 s, 200 docs (173 KB) 0.48 vs 0.44 s,
#: 400 docs (353 KB) 0.82 vs 0.58 s.  One task stops winning between 137
#: and 154 KB.  A 100-doc stream increment (26 KB) thus runs as one
#: task, and the 1.8 MB heavy_payload wave keeps 4.
TASK_BYTES = 136 * 1024

#: the sink columns lineage reads, as balanced_extract writes them
_LINEAGE_SCHEMA = pa.schema([("bucket", pa.int32()), ("doc_hash", pa.int64()),
                             ("n_spans", pa.int32())])


def _wave_lineage(wave_dir: str, run_id: str, watermark: str) -> list[dict]:
    # The per-doc hash + span count were computed JVM-side in the write
    # pass and stored as plain int64 columns, so lineage reads three
    # pruned integer columns of the files actually written (the checksum
    # covers the sink, not the plan) and never re-deserializes the
    # nested span payloads; the deep payload re-hash lives in
    # ParquetManifestTable.verify.  wave_dir is this wave's own directory
    # and holds only its buckets, so earlier waves are never re-read.
    # The engine's tables live on a filesystem the driver reads (the
    # premise of the driver-side listing in session.get_spark), so the
    # driver reads the 16 bytes a document with pyarrow (its default
    # ignore prefixes skip _SUCCESS and .crc) and groups them with numpy.
    # Traced perfbench, 4-core host: 0.003 s against 0.146 s for the
    # single-task Spark job it replaces on a 100-doc stream increment,
    # 0.007 s against 0.157 s on the 2,000-doc heavy wave, whose lineage
    # is byte-identical.
    t = ds.dataset(wave_dir, format="parquet",
                   schema=_LINEAGE_SCHEMA).to_table()
    order = np.argsort(t.column("bucket").to_numpy(), kind="stable")
    bucket, doc_hash, n_spans = (
        t.column(c).to_numpy()[order] for c in _LINEAGE_SCHEMA.names)
    starts = np.flatnonzero(np.diff(bucket, prepend=-1))
    wave = wave_name(wave_dir)
    return [
        {
            "bucket": int(b),
            "run_id": run_id,
            "wave": wave,
            "doc_count": int(n),
            "span_count": int(s),
            # order-insensitive per-bucket checksum over canonical doc payloads
            "checksum": checksum_hex(int(x)),
            "watermark": watermark,
        }
        for b, n, s, x in zip(
            bucket[starts],
            np.diff(starts, append=len(bucket)),
            np.add.reduceat(n_spans.astype(np.int64), starts),
            np.bitwise_xor.reduceat(doc_hash, starts))
    ]


def _sized_tasks(docs: DataFrame) -> int | None:
    """Tasks for a wave read from local files: one per ``TASK_BYTES`` of
    input, at most ``defaultParallelism``.  None when the plan lists no
    input file (e.g. the synthetic generator) or one is not local."""
    files = docs.inputFiles()
    if not files:
        return None
    size = 0
    for uri in files:
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        size += os.path.getsize(unquote(u.path))
    return max(1, min(docs.sparkSession.sparkContext.defaultParallelism,
                      math.ceil(size / TASK_BYTES)))


def balanced_extract(docs: DataFrame, cfg: ExtractConfig = DEFAULT,
                     num_partitions: int | None = None) -> DataFrame:
    """E2→E7 on ``(doc_id, spans, bucket)``: the shuffle, the fused
    extract stage, and the sink columns — ``bucket``, the per-doc
    ``doc_hash`` (formats.lineage_exprs) and ``n_spans`` — computed once,
    JVM-side, in the write pass, so the per-wave lineage scan reads only
    those pruned columns.  Rows are whole documents on either path.

    ``num_partitions`` None sizes the wave from its input files
    (``_sized_tasks``); a wave of one task's worth feeds the stage
    straight from the scan, with no exchange.  Input with no listed or
    non-local files, and the chunk path, get ``defaultParallelism``
    tasks; an explicit ``num_partitions`` is always used as given."""
    sized = (None if num_partitions or cfg.chunk_max_spans
             else _sized_tasks(docs))
    n = (num_partitions or sized
         or docs.sparkSession.sparkContext.defaultParallelism)
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
        # A one-task wave skips it: the exchange and its extra stage cost
        # more than spreading the wave saves, and the one task writes
        # the wave's one file.
        feed = (docs.coalesce(1) if sized == 1
                else bucket_clustered_repartition(docs, n))
        raw = extract_stage(feed, cfg)
        extracted = with_bucket(raw, cfg)
    _, doc_hash = lineage_exprs(extracted)
    return extracted.withColumns({
        # xxhash64 hashes the nested span array directly — 2x cheaper
        # than serializing through to_json, same determinism
        "doc_hash": doc_hash,
        "n_spans": F.size("spans"),
    })


def commit_wave(tbl: ParquetManifestTable, extracted: DataFrame,
                run_id: str, watermark: str,
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
    entries = _wave_lineage(wave_dir, run_id, watermark)     # E9
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
            tbl, balanced_extract(wave_docs, cfg, num_partitions),
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
