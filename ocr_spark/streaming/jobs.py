"""Structured Streaming surface (SURVEY.md §2.3).

Streams are first-class in the engine: the ``events`` table can be
consumed as a file stream with watermarked tumbling / sliding / session
windows and stateful dedup, and the extraction pipeline itself runs as a
micro-batch stream (``stream_extract``) with exactly-once sink commits
via the manifest table — one manifest run per micro-batch, idempotent
under Spark's foreachBatch retries.  Each micro-batch runs the batch
job's own extract and wave-commit functions (plans/pipeline.py), so the
two surfaces cannot drift apart.

Everything is the built-in Structured Streaming operator set —
``readStream`` → stateless/stateful transformations → ``writeStream`` —
so watermark handling, state store management, and incremental
execution come from Spark, not hand-rolled code.  Batch twins of the
window aggregations (oracle-checked against DuckDB) live in
plans/queries_rel.py; tests/test_streaming.py asserts stream ≡ batch.
"""

from __future__ import annotations

import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_spark.config import DEFAULT, ExtractConfig
from ocr_spark.operators.skew import with_bucket
from ocr_spark.plans.pipeline import balanced_extract, commit_wave
from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL
from ocr_spark.sources.formats import ParquetManifestTable


def events_stream(spark: SparkSession, src_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of events parquet files.
    Schema is pinned from a static read (file streams require it)."""
    schema = spark.read.parquet(src_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(src_dir)
    # watermarks require TIMESTAMP (with zone); parquet ts is NTZ —
    # reinterpret as session-local wall clock
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(stream: DataFrame, window: str = "10 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type", "n", "total",
        )
    )


def sliding_counts(stream: DataFrame, window: str = "10 minutes",
                   slide: str = "5 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n", "total",
        )
    )


def session_agg(stream: DataFrame, gap: str = "30 minutes",
                watermark: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user (built-in session_window state
    merging — the streaming twin of the batch lag/cumsum sessionizer)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events", "session_value",
        )
    )


def dedup_within_watermark(stream: DataFrame,
                           watermark: str = "10 minutes") -> DataFrame:
    """Stateful exactly-once event stream: duplicate event_ids arriving
    within the watermark horizon are dropped; state for ids older than
    the horizon is evicted (bounded state at 10^12-event scale)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(sdf: DataFrame, checkpoint: str,
                      output_mode: str = "append",
                      name: str | None = None) -> DataFrame:
    """Drain everything currently available through the streaming plan
    into an in-memory sink; returns the result as a batch DataFrame.
    Used by tests and the oracle harness (stream ≡ batch checks)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def stream_extract(spark: SparkSession, docs_dir: str, out_table: str,
                   checkpoint: str, cfg: ExtractConfig = DEFAULT,
                   num_partitions: int | None = None) -> None:
    """The extraction pipeline as a Structured Streaming job: new
    interleaved-document parquet files landing in ``docs_dir`` are
    extracted incrementally and committed to the manifest table with
    exactly-once semantics.

    Each micro-batch is one wave of the batch job: the same
    pipeline.balanced_extract (cfg.chunk_max_spans bounds per-task work
    here too; committed rows are whole documents either way) and
    pipeline.commit_wave, in its ``append_runs`` mode, under
    run_id = batch id.  Sink protocol per micro-batch:
      * batch already in the manifest → Spark retried a committed batch →
        no-op;
      * stale uncommitted run dir (crash between write and commit) →
        removed, then rewritten — commits are whole-batch atomic, so a
        run_id is either fully committed or absent.

    The input schema is pinned to ``corpus.SPAN_SCHEMA_DDL`` (the input
    contract), not inferred, so the job also runs on a landing directory
    that has no file yet: it commits nothing until the first one lands.
    """
    tbl = ParquetManifestTable(out_table)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"batch{batch_id:09d}"
        if run_id in tbl.committed_runs():
            return  # retried, already-committed micro-batch
        shutil.rmtree(tbl.run_dir(run_id), ignore_errors=True)
        docs = with_bucket(batch_df.select("doc_id", "spans"), cfg)
        watermark = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        commit_wave(spark, tbl, balanced_extract(docs, cfg, num_partitions),
                    run_id, watermark, append_runs=True)

    q = (
        spark.readStream.schema(SPAN_SCHEMA_DDL).parquet(docs_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running (event count, value total) maintained in the state store
    across micro-batches — the pattern for stateful logic the built-in
    windowed aggregates can't express.  Arrow-batched per group; state
    is a two-field tuple, so store size is O(distinct users) regardless
    of stream length.  Emitted in update mode: one row per user per
    micro-batch that touched it."""
    import pandas as pd

    def fn(key, pdf_iter, state):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def drain_updates_to_parquet(sdf: DataFrame, sink_dir: str,
                             checkpoint: str) -> None:
    """availableNow drain of an update-mode stream into a parquet dir via
    foreachBatch (the file sink itself is append-only; foreachBatch
    gives update semantics a durable, checkpoint-recoverable sink)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_batch", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink_dir)

    q = (
        sdf.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def rate_limited_events(stream: DataFrame, limit: int = 3) -> DataFrame:
    """ONLINE rate limiting / quota enforcement — the streaming twin of
    the batch ``events_rate_limit`` operator: admit the first ``limit``
    events per (user, day) and drop the rest, with the per-key
    admission count held in the state store so the quota is enforced
    ACROSS micro-batches and across query restarts (a batch window
    can't do this incrementally — it would re-rank history every run).

    State is one int per (user, day) — O(active keys), and a real
    deployment adds a timeout evicting yesterday's keys.  Events are
    admitted in (ts, event_id) order WITHIN each micro-batch; across
    batches, admission is arrival order — the true online semantics
    (a late event cannot un-admit an earlier one)."""
    import pandas as pd

    def fn(key, pdf_iter, state):
        user_id, day = key
        used = state.get[0] if state.exists else 0
        remaining = limit - used
        # A (user, day) group larger than arrow.maxRecordsPerBatch
        # arrives as MULTIPLE pandas chunks; sorting each chunk alone
        # would admit per-chunk firsts, not the micro-batch's globally
        # first `remaining` by (ts, event_id).  Keep a bounded
        # k-smallest merge instead: per chunk take its `remaining`
        # smallest, merge with the running candidates, truncate — at
        # most 2*limit rows ever held, and the iterator still drains.
        cand = None
        for pdf in pdf_iter:
            if remaining <= 0:
                continue
            chunk = pdf[["ts", "event_id"]].sort_values(
                ["ts", "event_id"]).head(remaining)
            cand = chunk if cand is None else (
                pd.concat([cand, chunk])
                .sort_values(["ts", "event_id"]).head(remaining))
        eids, rns = [], []
        if cand is not None:
            for eid in cand["event_id"]:
                used += 1
                eids.append(int(eid))
                rns.append(used)
        state.update((used,))
        yield pd.DataFrame({
            "event_id": pd.Series(eids, dtype="int64"),
            "user_id": pd.Series([user_id] * len(eids), dtype="int64"),
            "day": pd.Series([day] * len(eids)),
            "rn": pd.Series(rns, dtype="int32"),
        })

    return (
        stream.withColumn("day", F.date_trunc("day", "ts"))
        .groupBy("user_id", "day")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "event_id long, user_id long, day timestamp, rn int"),
            stateStructType="used int",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
