"""The Parquet+manifest table (sources/formats.py): compaction and
vacuum, snapshot time travel and incremental reads, manifest history
growth, the writer lock, and driver-side listing of the data files."""

from __future__ import annotations

import multiprocessing
import os

import pytest

from ocr_spark.sources.formats import ParquetManifestTable


# -- compaction / vacuum (small-files maintenance) ---------------------------

_SPAN_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>")


def _commit_wave(spark, tbl, run_id, lo, hi):
    """Write one stream-increment-style run covering doc ids [lo, hi)
    through the wave commit stream_extract uses (pipeline.commit_wave
    with the increment's consumed input files)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.pipeline import commit_wave
    from ocr_spark.sources.formats import lineage_exprs

    rows = [
        (f"d{i:04d}",
         [("text", f"body of doc {i}", None, 0),
          ("image", None, f"media://{i}", 1)])
        for i in range(lo, hi)
    ]
    df = (spark.createDataFrame(rows, _SPAN_SCHEMA)
          .withColumn("bucket",
                      F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")))
    _, row_hash = lineage_exprs(df)
    out = df.withColumns({"doc_hash": row_hash,
                          "n_spans": F.size("spans")})
    return commit_wave(tbl, out, run_id, "2026-01-01T00:00:00Z",
                       consumed=[f"landing/{run_id}.parquet"])


def _table_key(spark, tbl):
    return sorted(
        (r["doc_id"], tuple(tuple(s) for s in r["spans"]))
        for r in tbl.read(spark).select("doc_id", "spans").collect()
    )


def test_compact_merges_runs_preserving_lineage(spark, tmp_path):
    """compact() rewrites N runs into one file set per bucket; the
    summed counts + xor-folded checksums must still pass the deep
    payload-rehash verify(), reads must be unchanged, and the consumed
    input files must survive it for streaming idempotency."""
    import glob

    tbl = ParquetManifestTable(str(tmp_path / "t"))
    e1 = _commit_wave(spark, tbl, "batch000000001", 0, 40)
    e2 = _commit_wave(spark, tbl, "batch000000002", 40, 70)
    e3 = _commit_wave(spark, tbl, "batch000000003", 70, 90)
    before = _table_key(spark, tbl)
    n_entries = len(e1) + len(e2) + len(e3)
    assert len(tbl.lineage()) == n_entries  # multiple entries per bucket

    res = tbl.compact(spark, num_partitions=4)
    assert res["compacted_entries"] == n_entries
    assert res["buckets"] == 4

    # reads identical, one manifest entry per bucket, deep audit green
    assert _table_key(spark, tbl) == before
    lineage = tbl.lineage()
    assert len(lineage) == 4
    assert all(e["run_id"] == res["run_id"] for e in lineage)
    assert tbl.verify(spark) == []

    # the compaction keeps the consumed files: re-committing e2's
    # increment keeps nothing
    assert tbl.commit(e2, consumed=["landing/batch000000002.parquet"]) == []
    assert len(tbl.lineage()) == 4

    # vacuum drops the absorbed run dirs (and any orphan half-written
    # run), keeps the compacted one; the table still reads + verifies
    orphan = tbl.run_dir("orphan_crash")
    import os
    os.makedirs(orphan, exist_ok=True)
    removed = tbl.vacuum()
    assert orphan in removed and len(removed) == 4
    live = glob.glob(str(tmp_path / "t" / "data" / "run=*"))
    assert [os.path.basename(d) for d in live] == [f"run={res['run_id']}"]
    assert _table_key(spark, tbl) == before
    assert tbl.verify(spark) == []

    # an orphan wave inside a live run (a crashed attempt of a resumed
    # run) goes too; the run's committed wave stays
    orphan_wave = tbl.wave_dir(res["run_id"], "wcrashed00000")
    os.makedirs(orphan_wave)
    assert tbl.vacuum() == [orphan_wave]
    assert _table_key(spark, tbl) == before


def test_compact_is_repeatable_and_append_continues(spark, tmp_path):
    """A compacted table keeps accepting new runs, and a SECOND
    compaction over (compacted + new) data works — regression for the
    discovered `run` partition column leaking into the data schema."""
    tbl = ParquetManifestTable(str(tmp_path / "t"))
    _commit_wave(spark, tbl, "batch000000001", 0, 30)
    r1 = tbl.compact(spark, num_partitions=2)
    _commit_wave(spark, tbl, "batch000000002", 30, 60)
    before = _table_key(spark, tbl)
    assert len(before) == 60

    r2 = tbl.compact(spark, num_partitions=2)
    assert r2["run_id"] != r1["run_id"]
    assert _table_key(spark, tbl) == before
    assert tbl.verify(spark) == []
    tbl.vacuum()
    assert _table_key(spark, tbl) == before


def test_compact_empty_table_is_noop(spark, tmp_path):
    tbl = ParquetManifestTable(str(tmp_path / "t"))
    assert tbl.compact(spark) == {"compacted_entries": 0, "run_id": None}


# -- snapshot history / time travel ------------------------------------------


def test_snapshot_time_travel(spark, tmp_path):
    """Every commit is a snapshot; read(as_of=id) sees the table exactly
    as of that commit (Iceberg read-as-of).  Entries hold no absolute
    paths, so a moved table still reads, time-travels and verifies."""
    tbl = ParquetManifestTable(str(tmp_path / "t"))
    _commit_wave(spark, tbl, "batch000000001", 0, 30)
    after_w1 = _table_key(spark, tbl)
    s1 = tbl.snapshots()[-1]["snapshot_id"]
    _commit_wave(spark, tbl, "batch000000002", 30, 50)
    after_w2 = _table_key(spark, tbl)
    s2 = tbl.snapshots()[-1]["snapshot_id"]

    assert s2 > s1 and len(after_w1) == 30 and len(after_w2) == 50
    trav1 = sorted(
        (r["doc_id"], tuple(tuple(s) for s in r["spans"]))
        for r in tbl.read(spark, as_of=s1).select("doc_id", "spans").collect())
    assert trav1 == after_w1
    trav2 = sorted(
        (r["doc_id"], tuple(tuple(s) for s in r["spans"]))
        for r in tbl.read(spark, as_of=s2).select("doc_id", "spans").collect())
    assert trav2 == after_w2

    moved = str(tmp_path / "moved")
    os.rename(tbl.root, moved)
    tbl = ParquetManifestTable(moved)
    assert sorted(os.listdir(moved)) == [
        "_manifest.json", "_manifest.lock", "data"]
    assert _table_key(spark, tbl) == after_w2
    assert sorted(
        (r["doc_id"], tuple(tuple(s) for s in r["spans"]))
        for r in tbl.read(spark, as_of=s1).select("doc_id", "spans").collect()
    ) == after_w1
    assert tbl.verify(spark) == []


def test_vacuum_expires_snapshots(spark, tmp_path):
    """Pre-compaction snapshots stay readable until vacuum() deletes the
    absorbed run files, then raise a clear expiry error — Iceberg's
    expire_snapshots contract."""
    import pytest

    tbl = ParquetManifestTable(str(tmp_path / "t"))
    _commit_wave(spark, tbl, "batch000000001", 0, 30)
    s1 = tbl.snapshots()[-1]["snapshot_id"]
    before = _table_key(spark, tbl)
    tbl.compact(spark, num_partitions=2)

    # between compact and vacuum: both current and as-of reads work
    assert _table_key(spark, tbl) == before
    assert tbl.read(spark, as_of=s1).count() == 30

    tbl.vacuum()
    ids = [s["snapshot_id"] for s in tbl.snapshots()]
    assert s1 not in ids and ids  # compacted snapshot survives
    with pytest.raises(FileNotFoundError, match="expired"):
        tbl.read(spark, as_of=s1)
    assert _table_key(spark, tbl) == before
    assert tbl.verify(spark) == []


def test_incremental_read_between_snapshots(spark, tmp_path):
    """read_incremental(since=s) returns exactly the rows committed
    after snapshot s — the Iceberg incremental-read pattern a polling
    consumer uses to process only new data."""
    import pytest

    tbl = ParquetManifestTable(str(tmp_path / "t"))
    _commit_wave(spark, tbl, "batch000000001", 0, 30)
    s1 = tbl.snapshots()[-1]["snapshot_id"]
    _commit_wave(spark, tbl, "batch000000002", 30, 50)
    inc = sorted(r["doc_id"] for r in
                 tbl.read_incremental(spark, since=s1).collect())
    assert inc == [f"d{i:04d}" for i in range(30, 50)]
    s2 = tbl.snapshots()[-1]["snapshot_id"]
    with pytest.raises(FileNotFoundError, match="no entries committed"):
        tbl.read_incremental(spark, since=s2)


# -- manifest history and writer lock (Spark-free) ---------------------------


def _entries(run_id, n_buckets):
    return [{"bucket": b, "run_id": run_id, "doc_count": 1, "span_count": 5,
             "checksum": f"{b:016x}", "watermark": "2026-01-01T00:00:00Z"}
            for b in range(n_buckets)]


def _tree_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def test_history_bytes_grow_linearly(tmp_path):
    """Snapshots are filters over the one manifest, not copies of it:
    doubling the commits of a streaming table about doubles its bytes
    on disk (a full manifest copy per commit quadruples them)."""
    tbl = ParquetManifestTable(str(tmp_path / "t"))
    size = {}
    for c in range(1, 81):
        tbl.commit(_entries(f"batch{c:09d}", 84), consumed=[f"f{c}"])
        if c in (40, 80):
            size[c] = _tree_bytes(tbl.root)
    assert not os.path.exists(os.path.join(tbl.root, "_snapshots"))
    assert sorted(os.listdir(tbl.root)) == ["_manifest.json", "_manifest.lock"]
    assert size[80] <= 2.5 * size[40], size


def _commit_ten_runs(root, worker, go):
    go.wait(60)
    tbl = ParquetManifestTable(root)
    for i in range(10):
        tbl.commit(_entries(f"w{worker}run{i}", 8),
                   consumed=[f"w{worker}f{i}"])


def test_concurrent_committers_lose_nothing(tmp_path):
    """The writer lock serialises load-modify-store: four processes
    committing at once keep every entry and get one snapshot id each."""
    root = str(tmp_path / "t")
    ctx = multiprocessing.get_context("spawn")
    go = ctx.Event()
    procs = [ctx.Process(target=_commit_ten_runs, args=(root, w, go))
             for w in range(4)]
    for p in procs:
        p.start()
    go.set()  # release the workers together so their commits overlap
    for p in procs:
        p.join(timeout=120)
    assert [(p.is_alive(), p.exitcode) for p in procs] == [(False, 0)] * 4
    tbl = ParquetManifestTable(root)
    assert len(tbl.lineage()) == 4 * 10 * 8
    assert [s["snapshot_id"] for s in tbl.snapshots()] == list(range(1, 41))



def test_commit_keeps_nothing_for_a_consumed_file(tmp_path):
    """A stream commit records its input files in the same swap as its
    entries: a commit naming a file already consumed (a retried or raced
    increment) keeps nothing, and one naming only new files appends all
    its entries, buckets committed before included."""
    tbl = ParquetManifestTable(str(tmp_path / "t"))
    assert len(tbl.commit(_entries("s1", 4), consumed=["in/a.parquet"])) == 4
    assert tbl.commit(_entries("s2", 4), consumed=["in/a.parquet"]) == []
    assert tbl.commit(_entries("s3", 4),
                      consumed=["in/b.parquet", "in/a.parquet"]) == []
    assert len(tbl.lineage()) == 4
    assert tbl.consumed_files() == {"in/a.parquet"}
    kept = tbl.commit(_entries("s4", 4), consumed=["in/b.parquet"])
    assert [e["run_id"] for e in kept] == ["s4"] * 4
    assert len(tbl.lineage()) == 8
    assert tbl.consumed_files() == {"in/a.parquet", "in/b.parquet"}

def test_bucket_directories_are_listed_on_the_driver(spark, tmp_path):
    """read, verify and compact read one directory per committed wave.
    Listing 64 directories starts no Spark job (above 32 paths Spark's
    default is a listing job with one task per directory)."""
    wave = str(tmp_path / "run=r")
    (spark.range(64)
     .selectExpr("id AS doc_hash", "1 AS n_spans", "CAST(id AS INT) AS bucket")
     .write.partitionBy("bucket").parquet(wave))
    sc = spark.sparkContext
    sc.setJobGroup("listing", "bucket directory listing")
    try:
        df = spark.read.schema("doc_hash BIGINT, n_spans INT").parquet(wave)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("listing") == []
    assert df.select("bucket").distinct().count() == 64
