"""Structured Streaming semantics (SURVEY.md §2.3 + §5).

Strategy: every streaming op is checked for stream ≡ batch equivalence
(drain the stream with an availableNow trigger into a memory sink and
compare against the equivalent batch DataFrame on the same input), plus
the two purely-streaming behaviors batch can't express — late-data drop
beyond the watermark, and exactly-once sink commits across micro-batch
retries / restarts.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_spark.streaming import (
    dedup_within_watermark,
    events_stream,
    run_available_now,
    session_agg,
    stream_extract,
    tumbling_counts,
)


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path) -> str:
    src = str(tmp_path / "events_src")
    os.makedirs(src)
    for f in glob.glob(f"{sf_dir}/events.parquet/*.parquet") or [
        f"{sf_dir}/events.parquet"
    ]:
        shutil.copy(f, src)
    return src


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events_dir, tmp_path):
    stream = events_stream(spark, events_dir)
    # complete mode: the full aggregate is (re)emitted, so the drained
    # table equals the batch aggregate over all input regardless of
    # where the watermark ends up
    got = run_available_now(
        tumbling_counts(stream), str(tmp_path / "ck"), output_mode="complete"
    )
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type", "n", "total",
        )
    )
    cols = ["win_start", "event_type", "n"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_session_stream_covers_all_events(spark, events_dir, tmp_path):
    stream = events_stream(spark, events_dir)
    got = run_available_now(
        session_agg(stream), str(tmp_path / "ck"), output_mode="complete"
    )
    # session_window merges by gap: total events conserved, and the
    # per-user session count matches the batch lag/cumsum sessionizer
    total = got.agg(F.sum("n_events")).collect()[0][0]
    n_input = spark.read.parquet(events_dir).count()
    assert total == n_input
    batch_sessions = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn(
            "prev",
            F.lag("ts").over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .withColumn(
            "is_new",
            F.when(
                F.col("prev").isNull()
                | (F.unix_micros("ts") - F.unix_micros("prev") > 30 * 60 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("is_new").alias("n_sessions"))
    )
    got_sessions = got.groupBy("user_id").agg(F.count("*").alias("n_sessions"))
    cols = ["user_id", "n_sessions"]
    assert _rows(got_sessions, cols) == _rows(batch_sessions, cols)


def test_dedup_drops_late_duplicates(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    ck = str(tmp_path / "ck")

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        # distinct file per call; the stream picks up whatever is new

    import datetime as dt

    sink = str(tmp_path / "sink")

    def drain():
        # durable sink: memory sinks cannot recover a checkpoint, and the
        # watermark must survive between the two availableNow runs
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            dedup_within_watermark(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    # batch 1: events at t0..t0+2, plus a far-future event advancing the
    # watermark (10 min delay) well past t0
    write_batch("a", [
        (1, t0, 1.0), (2, t0 + m, 1.0), (3, t0 + 2 * m, 1.0),
        (4, t0 + dt.timedelta(hours=2), 1.0),
    ])
    assert drain().count() == 4

    # batch 2: a duplicate of event 1 arriving hours late (event-time far
    # behind the watermark) plus one genuinely new in-horizon event —
    # the late duplicate must be dropped, the new event kept
    write_batch("b", [
        (1, t0, 99.0),
        (5, t0 + dt.timedelta(hours=2, minutes=1), 1.0),
    ])
    out2 = drain()
    assert out2.count() == 5
    assert out2.filter(F.col("event_id") == 1).count() == 1, "late dup not dropped"
    assert out2.filter(F.col("event_id") == 5).count() == 1


def _doc_key(df):
    """Document rows as sorted (doc_id, spans json) pairs."""
    return sorted(
        (r["doc_id"], r["j"]) for r in
        df.select("doc_id", F.to_json("spans").alias("j")).collect()
    )


def test_stream_extract_equals_batch_and_is_exactly_once(spark, tmp_path):
    from ocr_spark.plans.pipeline import extract_dataframe
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    docs = generate_interleaved(spark, 60, seed=7, partitions=4)
    docs.write.mode("append").parquet(src)

    stream_extract(spark, src, out, ck, num_partitions=8)
    got = ParquetManifestTable(out).read(spark)
    want = extract_dataframe(spark.read.parquet(src))
    assert _doc_key(got) == _doc_key(want)

    # restart with nothing new → no duplicate rows, no new manifest runs
    runs_before = ParquetManifestTable(out).committed_runs()
    stream_extract(spark, src, out, ck, num_partitions=8)
    assert ParquetManifestTable(out).committed_runs() == runs_before
    assert _doc_key(ParquetManifestTable(out).read(spark)) == _doc_key(want)

    # second wave of NEW docs appended to the source → incremental
    # extraction, union of both waves visible, first wave not recomputed
    more = generate_interleaved(spark, 30, seed=8, partitions=2).withColumn(
        "doc_id", F.concat(F.lit("w2_"), "doc_id")
    )
    more.write.mode("append").parquet(src)
    stream_extract(spark, src, out, ck, num_partitions=8)
    got2 = ParquetManifestTable(out).read(spark)
    assert got2.count() == 90
    assert len(ParquetManifestTable(out).committed_runs()) > len(runs_before)


def test_stream_extract_honours_chunk_max_spans(spark, tmp_path):
    """stream_extract runs the batch job's balanced extract, so a chunked
    config restitches before the sink: the table holds whole-document
    rows that verify against the lineage and equal the batch output."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import extract_dataframe
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "out")
    generate_interleaved(spark, 40, seed=11, partitions=2).write.parquet(src)

    stream_extract(spark, src, out, str(tmp_path / "ck"),
                   cfg=ExtractConfig(salt_buckets=8, chunk_max_spans=3),
                   num_partitions=4)
    tbl = ParquetManifestTable(out)
    got = tbl.read(spark)
    assert "chunk_id" not in got.columns
    assert tbl.verify(spark) == []
    assert _doc_key(got) == _doc_key(
        extract_dataframe(spark.read.parquet(src)))


def test_stream_extract_starts_on_an_empty_landing_directory(spark, tmp_path):
    """A streaming job normally starts before its first file lands: the
    input schema is the pinned contract, not inferred from the files, so
    an empty directory commits nothing and the first files are picked up
    by the next call."""
    from ocr_spark.plans.pipeline import extract_dataframe
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    stream_extract(spark, src, out, ck, num_partitions=4)
    tbl = ParquetManifestTable(out)
    assert tbl.committed_runs() == set()

    generate_interleaved(spark, 40, seed=5, partitions=2).write.mode(
        "append").parquet(src)
    stream_extract(spark, src, out, ck, num_partitions=4)
    assert _doc_key(tbl.read(spark)) == _doc_key(
        extract_dataframe(spark.read.parquet(src)))
    assert tbl.verify(spark) == []



def test_stream_extract_with_a_fresh_checkpoint_commits_every_new_doc(
        spark, tmp_path):
    """The manifest is the stream's only log: a call given a checkpoint
    path it has never seen still commits exactly the files the table has
    not consumed, and no checkpoint is written anywhere."""
    from ocr_spark.plans.pipeline import extract_dataframe
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "out")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    generate_interleaved(spark, 40, seed=21, partitions=2).write.parquet(src)
    stream_extract(spark, src, out, ck1, num_partitions=4)
    generate_interleaved(spark, 30, seed=22, partitions=2).withColumn(
        "doc_id", F.concat(F.lit("w2_"), "doc_id")
    ).write.mode("append").parquet(src)
    stream_extract(spark, src, out, ck2, num_partitions=4)

    tbl = ParquetManifestTable(out)
    assert sum(e["doc_count"] for e in tbl.lineage()) == 70
    assert _doc_key(tbl.read(spark)) == _doc_key(
        extract_dataframe(spark.read.parquet(src)))
    assert tbl.verify(spark) == []
    assert not os.path.exists(ck1) and not os.path.exists(ck2)


def test_stream_extract_resumes_after_a_crash_between_write_and_commit(
        spark, tmp_path, monkeypatch):
    """A crash after the wave is written but before its commit leaves the
    landed files unconsumed: the next call rewrites them into a fresh
    wave, so every document is committed once, and vacuum() removes the
    crashed call's orphan wave and nothing else."""
    from ocr_spark.plans.pipeline import extract_dataframe
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    generate_interleaved(spark, 50, seed=23, partitions=2).write.parquet(src)
    tbl = ParquetManifestTable(out)
    commit, crashed = ParquetManifestTable.commit, []

    def crash_once(self, entries, consumed=None):
        if not crashed:
            crashed.append(entries[0]["run_id"])
            raise RuntimeError("injected crash before commit")
        return commit(self, entries, consumed)

    monkeypatch.setattr(ParquetManifestTable, "commit", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        stream_extract(spark, src, out, ck, num_partitions=4)
    assert tbl.lineage() == [] and tbl.consumed_files() == set()
    stream_extract(spark, src, out, ck, num_partitions=4)
    monkeypatch.undo()

    want = _doc_key(extract_dataframe(spark.read.parquet(src)))
    assert len(want) == 50
    assert _doc_key(tbl.read(spark)) == want
    assert sum(e["doc_count"] for e in tbl.lineage()) == 50
    assert tbl.verify(spark) == []
    assert tbl.vacuum() == [tbl.run_dir(crashed[0])]
    assert _doc_key(tbl.read(spark)) == want

def test_stateful_running_totals_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-user totals must accumulate across
    micro-batches AND across a query restart (state store recovery from
    the checkpoint)."""
    import datetime as dt

    from ocr_spark.streaming.jobs import (
        drain_updates_to_parquet,
        running_user_totals,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def write_events(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    def drain():
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        drain_updates_to_parquet(running_user_totals(stream), sink, ck)
        out = spark.read.parquet(sink)
        last = out.groupBy("user_id").agg(
            F.max_by("n_events", "_batch").alias("n_events"),
            F.max_by("total_value", "_batch").alias("total_value"),
        )
        return {
            int(r["user_id"]): (int(r["n_events"]), round(float(r["total_value"]), 6))
            for r in last.collect()
        }

    write_events([(1, t0, 100, 1.5), (2, t0, 100, 2.5), (3, t0, 200, 10.0)])
    assert drain() == {100: (2, 4.0), 200: (1, 10.0)}

    # second wave, NEW query instance recovering state from the checkpoint
    write_events([(4, t0, 100, 0.5), (5, t0, 300, 7.0)])
    assert drain() == {100: (3, 4.5), 200: (1, 10.0), 300: (1, 7.0)}


def test_streaming_rate_limit_quota_survives_restart(spark, tmp_path):
    """The admission counter must persist in the state store across a
    NEW query instance: a user who exhausted the daily quota in wave 1
    gets nothing in wave 2, a user with remaining quota gets exactly
    the remainder, and rn continues from the recovered count."""
    import datetime as dt

    from ocr_spark.streaming.jobs import rate_limited_events

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def write_events(rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "sink")
    seen = set()

    def drain():
        from ocr_spark.streaming.jobs import (
            drain_updates_to_parquet, events_stream)

        stream = events_stream(spark, src)
        drain_updates_to_parquet(rate_limited_events(stream, 3), sink, ck)
        allrows = sorted(
            (int(r.event_id), int(r.user_id), int(r.rn))
            for r in spark.read.parquet(sink).collect()
        )
        new = [r for r in allrows if r not in seen]
        seen.update(allrows)
        return new

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # wave 1: user 100 sends 4 (one over quota), user 200 sends 2
    write_events([
        (1, ts(0), 100, "view", 0.0, "{}"),
        (2, ts(1), 100, "view", 0.0, "{}"),
        (3, ts(2), 100, "view", 0.0, "{}"),
        (4, ts(3), 100, "view", 0.0, "{}"),
        (5, ts(0), 200, "view", 0.0, "{}"),
        (6, ts(1), 200, "view", 0.0, "{}"),
    ])
    assert drain() == [(1, 100, 1), (2, 100, 2), (3, 100, 3),
                       (5, 200, 1), (6, 200, 2)]

    # wave 2 (new query instance): 100 is tapped out, 200 has one left
    write_events([
        (7, ts(10), 100, "view", 0.0, "{}"),
        (8, ts(10), 200, "view", 0.0, "{}"),
        (9, ts(11), 200, "view", 0.0, "{}"),
    ])
    assert drain() == [(8, 200, 3)]


def test_streaming_rate_limit_group_spanning_arrow_chunks(spark, tmp_path):
    """A (user, day) group larger than arrow.maxRecordsPerBatch reaches
    the stateful function as MULTIPLE pandas chunks.  Admission must
    still be the micro-batch's globally first `limit` events by
    (ts, event_id) — the round-4 per-chunk sort admitted each chunk's
    local firsts instead.  Events are written in DESCENDING ts order so
    the true firsts sit in the LAST chunk; the buggy version admits
    the first chunk's rows (the latest timestamps)."""
    import datetime as dt

    from ocr_spark.streaming.jobs import (
        drain_updates_to_parquet, events_stream, rate_limited_events)

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2026, 1, 2, 8, 0, 0)
    n = 50
    rows = [
        (eid, t0 + dt.timedelta(minutes=n - eid), 7, "view", 0.0, "{}")
        for eid in range(n)
    ]  # eid 49 has the SMALLEST ts; file order is eid ascending
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("append").parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        drain_updates_to_parquet(
            rate_limited_events(events_stream(spark, src), 3),
            str(tmp_path / "sink"), str(tmp_path / "ck"))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = sorted((int(r.event_id), int(r.rn))
                 for r in spark.read.parquet(str(tmp_path / "sink")).collect())
    # globally earliest (ts, event_id) = eids 49, 48, 47 (descending ts)
    assert got == [(47, 3), (48, 2), (49, 1)], got
