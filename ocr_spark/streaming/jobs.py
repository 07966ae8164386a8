"""Streaming surface (SURVEY.md §2.3).

Streams are first-class in the engine: the ``events`` table can be
consumed as a file stream with watermarked tumbling / sliding / session
windows and stateful dedup, and the extraction pipeline itself runs
incrementally (``stream_extract``) with exactly-once commits via the
manifest table — one manifest run per increment, whose commit records
the input files it consumed, so a retry commits nothing.  Each
increment runs the batch job's own extract and wave-commit functions
(plans/pipeline.py), so the two surfaces cannot drift apart.

The events operators are the built-in Structured Streaming operator set
— ``readStream`` → stateless/stateful transformations → ``writeStream``
— so watermark handling, state store management, and incremental
execution come from Spark, not hand-rolled code.  ``stream_extract``
needs none of that: it keeps no state but the manifest, and lists its
landing directory on the driver.  Batch twins of the
window aggregations (oracle-checked against DuckDB) live in
plans/queries_rel.py; tests/test_streaming.py asserts stream ≡ batch.
"""

from __future__ import annotations

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
    """Incremental extraction: the interleaved-document parquet files
    landed in ``docs_dir`` that the manifest table has not consumed yet
    are extracted and committed with exactly-once semantics.

    The manifest is the stream's only log.  Each call lists the landed
    files on the driver (Spark's own hidden-file rules skip ``_SUCCESS``
    and ``.crc``), drops those the manifest has consumed, and runs the
    rest as one wave of the batch job: the same
    pipeline.balanced_extract (cfg.chunk_max_spans bounds per-task work
    here too; committed rows are whole documents either way) and
    pipeline.commit_wave, under a fresh run id.  The commit records the
    wave's input files in the same manifest swap as its entries:
      * a retried or raced increment finds its files consumed and
        commits nothing;
      * a crash between write and commit leaves the files unconsumed,
        so the next call rewrites them into a fresh wave, and vacuum()
        removes the orphan one.
    Landed files must be immutable and renamed into place whole (as
    Spark's file source also assumes): a file is consumed by its path,
    so one still being written would be committed half-read.

    The input schema is pinned to ``corpus.SPAN_SCHEMA_DDL`` (the input
    contract), not inferred, so the job also runs on a landing directory
    that has no file yet: it commits nothing until the first one lands.
    ``checkpoint`` is unused: nothing is written there, and existing
    callers that pass it keep working.
    """
    tbl = ParquetManifestTable(out_table)
    reader = spark.read.schema(SPAN_SCHEMA_DDL)
    new = sorted(set(reader.parquet(docs_dir).inputFiles())
                 - tbl.consumed_files())
    if not new:
        return
    docs = with_bucket(reader.parquet(*new), cfg)
    watermark = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    commit_wave(spark, tbl, balanced_extract(docs, cfg, num_partitions),
                f"stream{uuid.uuid4().hex[:12]}", watermark, consumed=new)


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
