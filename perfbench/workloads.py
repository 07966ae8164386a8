"""Workloads: seeded corpus set-up, the operation under test, output checks.

An operation is one call into an engine entry point:

* ``heavy_payload``: one ``plans.pipeline.run_extract`` over the whole
  generated table, into a fresh output table;
* ``stream_increments``: one closed-loop increment of a single client —
  atomically rename the next pre-generated parquet file into the watched
  directory, call ``streaming.jobs.stream_extract`` on the same table and
  checkpoint, and return once its commit is applied.

Every operation's output is checked after the timed phase: committed doc
count, a re-hash of the committed files against the manifest's lineage
entries, and a seeded sample of committed documents against the
pure-Python ``extract_doc`` oracle.
"""

from __future__ import annotations

import functools
import os
import random
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ocr_spark.functions.extract_core import extract_doc
from ocr_spark.plans.pipeline import run_extract
from ocr_spark.sources.corpus import generate_interleaved, make_doc
from ocr_spark.sources.formats import ParquetManifestTable, lineage_exprs
from ocr_spark.streaming.jobs import stream_extract


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: ``generate_interleaved`` corpus knobs
    corpus: dict
    #: documents per job run, or per increment for a stream
    docs: int
    stream: bool = False
    #: untimed operations run before timing starts: enough for the JVM's
    #: compiled code to settle, since job runs keep getting faster for
    #: several runs after the session starts
    warmup_ops: int = 2


# No mega-docs (mega_every=0): each one's size is drawn from the seed, so
# a handful of them moves a corpus's span count by ~5% from seed to seed,
# which is more spread than the metrics' bounds leave room for.
WORKLOADS = {w.name: w for w in (
    Workload(
        "heavy_payload",
        "heft=5 documents with flate-compressed and xref-stream PDFs: "
        "per-kind parsing is the largest cost that grows with the input, "
        "on top of the sink's fixed cost",
        corpus={"heft": 5, "compress_every": 3, "xref_every": 4,
                "mega_every": 0},
        docs=2000,
        warmup_ops=4,
    ),
    Workload(
        "stream_increments",
        "one closed-loop client appending small increments through "
        "stream_extract: per-batch fixed cost and manifest growth set the "
        "latency",
        corpus={"heft": 1, "mega_every": 0},
        docs=100,
        stream=True,
    ),
)}

#: docs drawn per operation for the oracle comparison
SAMPLE_PER_OP = 6


@dataclass
class Op:
    index: int
    warmup: bool
    table: str
    latency_s: float = 0.0
    entries: list = field(default_factory=list)
    docs_expected: int = 0
    sample: list = field(default_factory=list)
    error: str | None = None
    problems: list = field(default_factory=list)

    @property
    def docs(self) -> int:
        return sum(e["doc_count"] for e in self.entries)

    @property
    def spans(self) -> int:
        return sum(e["span_count"] for e in self.entries)

    @property
    def digest(self) -> str:
        """xor-fold of the committed entries' checksums: a pure function
        of the documents the operation committed."""
        acc = 0
        for e in self.entries:
            acc ^= int(e["checksum"], 16)
        return format(acc, "016x")

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems


class Run:
    """One workload in one session: set up inputs, run operations, check."""

    def __init__(self, spark, wl: Workload, seed: int, workdir: str,
                 scale: float = 1.0) -> None:
        self.spark, self.wl, self.seed, self.workdir = spark, wl, seed, workdir
        self.docs = max(1, round(wl.docs * scale))
        self.ops: list[Op] = []
        self.input = os.path.join(workdir, "input")
        self.watch = os.path.join(workdir, "watch")
        self.pool: list[str] = []
        self._oracle: dict[int, list] = {}

    # -- set-up --------------------------------------------------------------
    def generate(self, increments: int = 0) -> None:
        """Write the seeded corpus as parquet: the whole table for a bulk
        workload, or one file of ``self.docs`` new documents per increment
        for a stream."""
        n = self.docs * increments if self.wl.stream else self.docs
        parts = increments if self.wl.stream else None
        (generate_interleaved(self.spark, n, seed=self.seed,
                              partitions=parts, **self.wl.corpus)
         .write.parquet(self.input))
        if self.wl.stream:
            # one part file per range partition, in doc-id order
            self.pool = sorted(f for f in os.listdir(self.input)
                               if f.endswith(".parquet"))
            os.makedirs(self.watch)

    def doc_ids(self, k: int) -> range:
        """Generator indices of the documents operation ``k`` commits."""
        return (range(k * self.docs, (k + 1) * self.docs) if self.wl.stream
                else range(self.docs))

    def exhausted(self) -> bool:
        return self.wl.stream and len(self.ops) >= len(self.pool)

    # -- the operation under test -------------------------------------------
    def op(self, warmup: bool) -> Op:
        k = len(self.ops)
        if self.wl.stream:
            table = os.path.join(self.workdir, "stream_table")
        else:
            table = os.path.join(self.workdir, f"out{k:03d}")
        o = Op(k, warmup, table, docs_expected=self.docs)
        rng = random.Random(f"{self.seed}:{k if self.wl.stream else 0}")
        ids = self.doc_ids(k)
        o.sample = sorted(rng.sample(ids, min(SAMPLE_PER_OP, len(ids))))
        self.ops.append(o)
        tbl = ParquetManifestTable(table)
        before = len(tbl.lineage())
        try:
            if self.wl.stream:
                src = os.path.join(self.input, self.pool[k])
                t = time.perf_counter()
                os.rename(src, os.path.join(self.watch, self.pool[k]))
                stream_extract(self.spark, self.watch, table,
                               os.path.join(self.workdir, "checkpoint"))
            else:
                t = time.perf_counter()
                run_extract(self.spark, self.spark.read.parquet(self.input),
                            table)
            o.latency_s = time.perf_counter() - t
        except Exception as e:  # a failed job is a failed operation
            traceback.print_exc()
            o.error = f"{type(e).__name__}: {e}"
            return o
        o.entries = tbl.lineage()[before:]
        return o

    # -- output checks -------------------------------------------------------
    def check(self) -> None:
        """Check every operation; a problem marks the operation failed.

        The committed files are re-hashed from their span payloads with
        the sink's own lineage convention (``formats.lineage_exprs``) and
        compared with each manifest entry, like
        ``ParquetManifestTable.verify``; reading each table's data
        directory, rather than every entry path, and taking the oracle
        sample in the same pass keeps the audit to one Spark job."""
        for o in self.ops:
            if o.error is None and o.docs != o.docs_expected:
                o.problems.append(
                    f"committed {o.docs} docs, generated {o.docs_expected}")
        if not self.wl.stream:
            # every job run reads the same table: one output digest
            ref = next((o.digest for o in self.ops if o.ok), None)
            for o in self.ops:
                if o.ok and o.digest != ref:
                    o.problems.append(f"digest {o.digest} != {ref}")
        # warm-up operations are set-up: their count and digest are checked
        # above, the files of the timed ones are re-read below
        done = [o for o in self.ops if o.error is None and not o.warmup]
        if not done:
            return
        # one read per table: Spark refuses several partitioned roots in
        # one read
        df = functools.reduce(DataFrame.unionByName, [
            self.spark.read.parquet(os.path.join(t, "data"))
            for t in sorted({o.table for o in done})])
        is_doc, row_hash = lineage_exprs(df)
        df = df.withColumns({
            "_run": F.regexp_extract(F.input_file_name(), r"run=([^/]+)/", 1),
            "_rh": row_hash,
        })
        ids = {i for o in done for i in o.sample}
        wanted = F.col("doc_id").isin([f"doc{i:08d}" for i in ids])
        actual, got = {}, {}
        try:
            rows = df.groupBy("_run", "bucket").agg(
                F.count(F.when(is_doc, 1)).alias("docs"),
                F.sum(F.size("spans")).alias("spans"),
                F.expr("bit_xor(_rh)").alias("ck"),
                F.collect_list(F.when(wanted, F.struct("doc_id", "spans")))
                .alias("sampled"),
            ).collect()
        except Exception as e:  # unreadable output fails the check
            for o in done:
                o.problems.append(f"reading the output failed: {e}")
            return
        for r in rows:
            actual[(r["_run"], r["bucket"])] = (
                r["docs"], r["spans"], format(r["ck"] & (2**64 - 1), "016x"))
            for d in r["sampled"]:
                got.setdefault((r["_run"], d["doc_id"]), []).append(
                    [tuple(s) for s in d["spans"]])
        for i in ids - set(self._oracle):
            d = make_doc(i, seed=self.seed, **self.wl.corpus)
            self._oracle[i] = [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in extract_doc(d["doc_id"], d["spans"])]
        for o in done:
            for e in o.entries:
                a = actual.get((e["run_id"], e["bucket"]))
                if a != (e["doc_count"], e["span_count"], e["checksum"]):
                    o.problems.append(
                        f"bucket {e['bucket']}: files hold {a}, lineage says "
                        f"{(e['doc_count'], e['span_count'], e['checksum'])}")
            runs = {e["run_id"] for e in o.entries}
            for i in o.sample:
                doc = f"doc{i:08d}"
                rows = [v for r in runs for v in got.get((r, doc), [])]
                if rows != [self._oracle[i]]:
                    o.problems.append(f"doc{i:08d} differs from the oracle")
