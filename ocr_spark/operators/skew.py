"""E2 — salted repartition to defuse mega-PDF skew.

Spec: BASELINE.json:6 "repartitions with salted keys to defuse skew from
mega-PDFs"; BASELINE.json:14 "partitioning / shuffle / skew handled
explicitly".  Reference code: REF:unavailable (SURVEY.md §0).

Why explicit salting (SURVEY.md §4): AQE's skew handling only splits
*join/sort* partitions — a MapInPandas stage downstream of a scan keeps
whatever partitioning the scan produced, so documents with 50× the
median span count pile onto whichever input split they were written to.
Salting by a hash of doc_id spreads docs uniformly; additionally the
``weight`` variant sub-splits by span_count so the *work* (not the row
count) balances.

The salt bucket is also the stable unit of lineage commit + restart
(E9/E10): ``bucket = pmod(xxhash64(doc_id), num_buckets)`` is a pure
function of doc_id, so a re-run at any parallelism maps every doc to the
same bucket — physical partition ids would not survive a parallelism
change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_spark.config import DEFAULT, ExtractConfig


def with_bucket(df: DataFrame, cfg: ExtractConfig = DEFAULT) -> DataFrame:
    """Stable salt bucket column (pure function of doc_id)."""
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets)).cast("int"))


def bucket_clustered_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Shuffle on the salt bucket itself (requires a ``bucket`` column from
    with_bucket).

    The bucket is a uniform hash of doc_id, so with salt_buckets >= ~4x
    num_partitions each task draws several buckets and mega-doc skew
    averages out — same balancing as a fine-grained salt.  The sink
    writes one file per task with ``bucket`` as a data column, so this
    exchange is there for balance only.
    """
    return df.repartition(num_partitions, "bucket")


def chunk_spans(df: DataFrame, max_spans: int) -> DataFrame:
    """E2 weight variant — size-aware mega-doc sub-split (all JVM HOFs).

    Pure doc_id salting balances doc COUNTS but a single 50×-median doc
    is indivisible: its whole spans array lands in one task and becomes
    the straggler.  This splits every document's offset-sorted spans
    into chunks of ≤ max_spans BEFORE the UDF stage, so per-row work is
    bounded by max_spans regardless of document size:

      (doc_id, spans, …) → (doc_id, chunk_id, n_chunks, spans, …)

    Normal docs (n ≤ max_spans) become exactly one chunk row — the
    explode is a no-op for them.  Chunk boundaries are taken on the
    (offset, input-index) sort order — the SAME order extract_doc uses —
    so per-chunk extraction composes exactly: concatenating chunk
    outputs in chunk_id order and re-numbering reproduces the unsplit
    output span-for-span (property-tested in tests/).
    """
    other = [c for c in df.columns if c not in ("doc_id", "spans")]
    # sort spans by (offset, input index) — ties keep input order, and the
    # unique idx means the comparator never reaches the payload struct
    sorted_spans = F.expr(
        "transform(array_sort(transform(spans, (s, i) ->"
        " struct(coalesce(s.offset, 0) as o, i as idx, s as s))), x -> x.s)"
    )
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size("spans") / F.lit(max_spans)).cast("int"))
    chunked = df.select(
        "doc_id",
        sorted_spans.alias("_ss"),
        n_chunks.alias("n_chunks"),
        *other,
    ).select(
        "doc_id",
        "n_chunks",
        F.posexplode(F.expr(
            f"transform(sequence(0, n_chunks - 1),"
            f" c -> slice(_ss, c * {max_spans} + 1, {max_spans}))"
        )).alias("chunk_id", "spans"),
        *other,
    )
    return chunked


def reassemble_chunks(extracted: DataFrame) -> DataFrame:
    """E7 grouped restitch for the chunk path: collect a document's
    extracted chunks, order by chunk_id, flatten, re-number ``order``
    densely — all JVM (collect_list + sort_array + flatten + transform).
    Columns other than doc_id/chunk_id/spans join the group key, so a
    per-doc column such as ``bucket`` lets an input already clustered on
    it group without another shuffle."""
    other = [c for c in extracted.columns
             if c not in ("doc_id", "chunk_id", "spans")]
    agg = extracted.groupBy("doc_id", *other).agg(
        F.sort_array(F.collect_list(F.struct("chunk_id", "spans"))).alias("_cs"))
    stitched = F.expr(
        "transform(flatten(transform(_cs, x -> x.spans)), (s, i) ->"
        " struct(s.kind as kind, s.text as text,"
        " s.media_ref as media_ref, i as order))"
    )
    return agg.select("doc_id", stitched.alias("spans"), *other)
