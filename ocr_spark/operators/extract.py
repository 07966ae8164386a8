"""E3–E7 fused Arrow-batched extraction stage.

Spec: BASELINE.json:6 — "a vectorized pandas/Arrow UDF stage that
tokenizes raw PDF byte-streams and HTML DOM fragments in batches,
applies layout-region classification ..., strips boilerplate ..., and
re-stitches interleaved text + media spans preserving offset order";
BASELINE.json:15 — "no per-row Python" (i.e. no row-at-a-time udf();
everything crosses the JVM↔Python boundary as Arrow batches exactly
once).  Reference code: REF:unavailable (SURVEY.md §0).

Physical shape (SURVEY.md §4 "fuse E3–E6 into one mapInPandas"): because
a document's spans are packed in-row (array<struct>), extraction AND
restitch are per-row-local — the whole E3→E7 chain is ONE mapInPandas
with no shuffle.  The only optional Exchange is the E2 salted
repartition upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ocr_spark.config import DEFAULT, ExtractConfig
from ocr_spark.functions.extract_core import extract_doc
from ocr_spark.sources.corpus import EXTRACTED_SCHEMA_DDL


def extract_stage(docs: DataFrame, cfg: ExtractConfig = DEFAULT,
                  passthrough: dict[str, str] | None = None) -> DataFrame:
    """(doc_id, spans[kind,text,media_ref,offset]) →
    (doc_id, spans[kind,text,media_ref,order]).

    ``passthrough`` maps extra column names to their DDL types; they ride
    through the Arrow batch untouched (used by the mega-doc chunk path to
    keep chunk_id and bucket attached to each sub-document)."""
    import pandas as pd

    extra = passthrough or {}

    def fn(batches):
        # per-DOCUMENT loop inside the Arrow batch is the correct
        # granularity: a document's spans are a variable-length nested
        # structure whose extraction is stateful per doc (block stacks,
        # PDF text matrices) — the vectorization win is the batched
        # Arrow transfer + columnar assembly, not SIMD over documents.
        # The spec's "no per-row Python" bans row-at-a-time udf()
        # round-trips, which this is not (one JVM↔Python crossing per
        # ~batch of 512 docs, cfg via arrow.maxRecordsPerBatch).
        for pdf in batches:
            out = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                res = extract_doc(doc_id, list(spans), cfg)
                out.append([
                    (o["kind"], o["text"], o["media_ref"], o["order"]) for o in res
                ])
            cols = {"doc_id": pdf["doc_id"].to_numpy(), "spans": out}
            for c in extra:
                cols[c] = pdf[c].to_numpy()
            yield pd.DataFrame(cols)

    schema = EXTRACTED_SCHEMA_DDL + "".join(
        f", {c} {ddl}" for c, ddl in extra.items())
    # select only the needed columns so column pruning reaches the scan
    return docs.select("doc_id", "spans", *extra).mapInPandas(fn, schema=schema)


def explode_extracted(extracted: DataFrame) -> DataFrame:
    """Long-form view (doc_id, span_idx, kind, text, media_ref, order)
    for SQL-oracle checking (SURVEY.md §1.2) — built-ins only."""
    from pyspark.sql import functions as F

    e = extracted.select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
    return e.select(
        "doc_id", "span_idx",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("span_order"),
    )
