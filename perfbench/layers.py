"""Per-layer measurements for the traced run.

Each layer is timed from here, around calls into the module's public
functions, never by editing the engine:

* ``layer_spans`` wraps the sink, lineage and commit calls that the
  entry points make, so every operation's span gets those children;
* ``probe_stages`` times noop-sink passes that stop after the scan, the
  shuffle, an identity ``mapInPandas`` and ``extract_stage``; a layer's
  time is its pass minus the pass it builds on;
* ``probe_sink`` times ``write_wave`` of an already-extracted,
  checkpointed frame;
* ``probe_parse`` times ``extract_doc`` per span kind on the driver.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time

from pyspark.sql import functions as F

from ocr_spark.functions.extract_core import HTML, MEDIA, PDF, TEXT, extract_doc
from ocr_spark.operators.extract import extract_stage
from ocr_spark.operators.skew import bucket_clustered_repartition, with_bucket
from ocr_spark.plans import pipeline
from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL, make_doc
from ocr_spark.sources.formats import ParquetManifestTable, lineage_exprs

from spans import Tracer

#: metric label of each input span kind
KINDS = {PDF: "pdf", HTML: "html", TEXT: "text", MEDIA: "media"}


@contextlib.contextmanager
def layer_spans(tracer: Tracer):
    """Record sink, lineage and commit spans under whichever span is open
    when the engine calls them (the operation's span)."""
    patched = [
        (ParquetManifestTable, "write_wave", "sink.write_wave"),
        (ParquetManifestTable, "commit", "commit"),
        (pipeline, "_wave_lineage", "lineage"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patched]

    def wrap(fn, name):
        def timed(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return timed

    try:
        for (owner, attr, name), (_, _, fn) in zip(patched, saved):
            setattr(owner, attr, wrap(fn, name))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity(batches):
    yield from batches


def _shuffled(spark, path):
    docs = with_bucket(spark.read.parquet(path).select("doc_id", "spans"))
    return bucket_clustered_repartition(
        docs, spark.sparkContext.defaultParallelism)


def probe_stages(spark, tracer: Tracer, path: str, reps: int = 3) -> dict:
    """Scan, shuffle, Arrow boundary and extract stage, each as the
    median of ``reps`` noop-sink passes minus the pass it builds on."""
    passes = {
        "probe.scan": lambda: spark.read.parquet(path),
        "probe.shuffle": lambda: _shuffled(spark, path),
        "probe.identity": lambda: _shuffled(spark, path)
        .select("doc_id", "spans").mapInPandas(identity, SPAN_SCHEMA_DDL),
        "probe.extract_stage": lambda: extract_stage(_shuffled(spark, path)),
    }
    with tracer.span("probe.stages"):
        for _ in range(reps):
            for name, build in passes.items():
                df = build()
                with tracer.span(name):
                    _noop(df)
    t = {name: statistics.median(tracer.durations(name)) for name in passes}
    return {
        "scan_s": t["probe.scan"],
        "shuffle_s": t["probe.shuffle"] - t["probe.scan"],
        "arrow_boundary_s": t["probe.identity"] - t["probe.shuffle"],
        "extract_stage_s": t["probe.extract_stage"] - t["probe.shuffle"],
    }


def probe_sink(spark, tracer: Tracer, path: str, root: str,
               reps: int = 3) -> dict:
    """``write_wave`` alone: the frame the pipeline would write (bucket,
    doc hash, span count) is extracted and checkpointed first."""
    raw = extract_stage(_shuffled(spark, path))
    _, row_hash = lineage_exprs(raw)
    frame = with_bucket(raw).withColumns(
        {"doc_hash": row_hash, "n_spans": F.size("spans")}).localCheckpoint()
    tbl = ParquetManifestTable(root)
    with tracer.span("probe.sink"):
        for r in range(reps):
            with tracer.span("probe.sink.write_wave"):
                out = tbl.write_wave(frame, f"probe{r}")
    frame.unpersist()
    files = [os.path.join(d, f) for d, _, fs in os.walk(out)
             for f in fs if f.endswith(".parquet")]
    return {
        "sink_write_s": statistics.median(
            tracer.durations("probe.sink.write_wave")),
        "sink_files": len(files),
        "sink_bytes": sum(os.path.getsize(f) for f in files),
    }


def probe_parse(tracer: Tracer, seed: int, corpus: dict, n_docs: int,
                sample: int = 60) -> dict:
    """Driver-side, one core: ``extract_doc`` per span, grouped by input
    kind (parse cost and span yield), and per whole document."""
    ids = sorted(random.Random(f"parse:{seed}").sample(
        range(n_docs), min(sample, n_docs)))
    docs = [make_doc(i, seed=seed, **corpus) for i in ids]
    busy = {k: 0.0 for k in KINDS.values()}
    n_in = dict.fromkeys(KINDS.values(), 0)
    n_out = dict.fromkeys(KINDS.values(), 0)
    with tracer.span("probe.parse"):
        for d in docs:
            for sp in d["spans"]:
                k = KINDS[sp["kind"]]
                t = time.perf_counter()
                out = extract_doc(d["doc_id"], [sp])
                busy[k] += time.perf_counter() - t
                n_in[k] += 1
                n_out[k] += len(out)
        t = time.perf_counter()
        for d in docs:
            extract_doc(d["doc_id"], d["spans"])
        whole = time.perf_counter() - t
    m = {
        "parse_pdf_us_per_span": 1e6 * busy["pdf"] / max(n_in["pdf"], 1),
        "parse_html_us_per_span": 1e6 * busy["html"] / max(n_in["html"], 1),
        "parse_passthrough_us_per_span":
            1e6 * (busy["text"] + busy["media"])
            / max(n_in["text"] + n_in["media"], 1),
        "extract_doc_docs_per_s_1core": len(docs) / whole,
    }
    for k in KINDS.values():
        m[f"spans_in.{k}"] = n_in[k]
        m[f"spans_out.{k}"] = n_out[k]
        m[f"span_yield.{k}"] = n_out[k] / max(n_in[k], 1)
    return m
