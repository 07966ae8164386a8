"""Table-format shim: a Parquet+manifest table shaped like Iceberg.

Spec: BASELINE.json:6/:14 — read/write Iceberg tables with per-partition
lineage enabling idempotent restart.  The sandbox has no Iceberg runtime
jar and no network (SURVEY.md §0/§4.4), so the pipeline runs against
``ParquetManifestTable`` only:

  * ``ParquetManifestTable`` — a Parquet directory plus an atomically
    swapped JSON manifest that provides the snapshot semantics lineage
    needs: a (bucket, run) only exists for readers once its manifest
    entry is committed, so partially-written runs are invisible and
    restart is idempotent.
  * ``IcebergTable`` — a plan-construction contract only: it builds the
    production ``spark.read.format("iceberg")`` / ``writeTo`` plans, but
    has no lineage, so ``run_extract`` refuses it before any write.

Both writers — run_extract's waves and stream_extract's increments —
reach the table only through plans/pipeline.py:commit_wave (write_wave →
lineage → commit); every data file is ``SINK_CODEC`` parquet and every
row one whole document ``(doc_id, spans, bucket, doc_hash, n_spans)``,
whatever the chunking config of the run that wrote it.

Table layout (``run_dir`` and ``wave_dir`` derive the data paths):
  <root>/data/run=<run_id>/wave=<wave>/part-*.parquet
                          one file per write task; ``bucket`` is a data
                          column, so the 256 salt buckets stay the commit
                          unit without being 256 directories of tiny files
  <root>/_manifest.lock   the writers' flock
  <root>/_manifest.json   the whole table state and its history:
    snapshot_id     the last commit's id
    entries         live [{bucket, run_id, wave, snapshot, doc_count,
                    span_count, checksum, watermark}]; ``wave`` names the
                    directory the entry's rows live in, ``snapshot`` the
                    commit that added the entry
    removed         compacted-away entries not yet vacuumed: the same
                    fields plus ``removed``, the compaction's snapshot
    consumed        the input files stream_extract's commits extracted,
                    recorded in the swap that commits their entries
    expired_before  the oldest snapshot vacuum() left readable
Snapshot s is the filter ``snapshot <= s < removed`` over both lists, so
no per-snapshot copy of the manifest is kept.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

# zstd: ~30-40% smaller than snappy on text-heavy spans at similar encode
# speed — at 10^12-doc scale the sink's byte volume IS the dominant I/O cost
SINK_CODEC = "zstd"


def lineage_exprs(df: DataFrame):
    """The ONE lineage convention, shared by the write path
    (pipeline.balanced_extract, which every writer uses) and the
    read-side audit below: returns ``(is_doc_row, row_hash)``
    expressions.  Every stored row is one whole document, so
    ``is_doc_row`` is always true and a bucket's doc count is its row
    count; ``df`` does not change the expressions."""
    from pyspark.sql import functions as F

    return F.lit(True), F.xxhash64("doc_id", "spans")


def wave_name(wave_dir: str) -> str:
    """The ``wave`` a manifest entry stores for a directory that
    ``write_wave`` returned."""
    return os.path.basename(wave_dir).removeprefix("wave=")


def checksum_hex(x: int) -> str:
    """A manifest entry's ``checksum``: a bucket's xor of row hashes
    (signed 64-bit in Spark) as 16 unsigned hex digits."""
    return format(x & (2**64 - 1), "016x")


class ParquetManifestTable:
    def __init__(self, root: str) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "_manifest.json")

    # -- manifest ----------------------------------------------------------
    def _load(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"snapshot_id": 0, "entries": [], "removed": [],
                    "consumed": [], "expired_before": 1}
        with open(self.manifest_path) as f:
            return json.load(f)

    @contextlib.contextmanager
    def _update(self):
        """Locked load-modify-store of the manifest: yields the loaded
        dict and, if the body returns, swaps the modified dict in.  Two
        concurrent writers would otherwise lose each other's entries
        (Iceberg gets this from optimistic snapshot CAS; the parquet
        shim uses an advisory file lock — same writer-side guarantee)."""
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, "_manifest.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            m = self._load()
            yield m
            fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
            with os.fdopen(fd, "w") as f:
                # json.dump always runs the pure-Python encoder; dumps
                # runs the C one, about 4x faster on a 2,335-entry manifest
                f.write(json.dumps(m))
            os.replace(tmp, self.manifest_path)  # atomic swap = commit point

    def _as_of(self, m: dict, snapshot_id: int) -> list[dict]:
        """The entries live at ``snapshot_id``: added at or before it and
        not yet removed by a compaction (Iceberg's per-entry snapshot
        stamps)."""
        if not m["expired_before"] <= snapshot_id <= m["snapshot_id"]:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not found (expired by vacuum, or "
                f"never committed) in {self.root}")
        return ([e for e in m["entries"] if e["snapshot"] <= snapshot_id]
                + [e for e in m["removed"]
                   if e["snapshot"] <= snapshot_id < e["removed"]])

    def committed_buckets(self) -> set[int]:
        return {e["bucket"] for e in self._load()["entries"]}

    def lineage(self) -> list[dict]:
        """E9 lineage rows (partition id = salt bucket, doc/span counts,
        checksum, watermark, run_id) — BASELINE.json:6."""
        return list(self._load()["entries"])

    def run_dir(self, run_id: str) -> str:
        return os.path.join(self.data_dir, f"run={run_id}")

    def wave_dir(self, run_id: str, wave: str) -> str:
        """Where the files of the entries of ``wave`` live."""
        return os.path.join(self.run_dir(run_id), f"wave={wave}")

    def commit(self, entries: list[dict],
               consumed: list[str] | None = None) -> list[dict]:
        """Append bucket entries idempotently, stamped with the new
        snapshot id; returns the entries kept, as stored.

        Batch mode (``consumed`` None): a bucket appears at most once in
        the manifest — a retried wave or a concurrent run cannot
        double-commit a bucket.  Stream mode: ``consumed`` names the
        input files the entries were extracted from, and the same swap
        records them, so the manifest is the stream's only log.  If any
        of them is consumed already (a retried or raced increment),
        nothing is kept; otherwise every entry is appended, whatever
        buckets earlier increments committed."""
        with self._update() as m:
            if consumed is None:
                have = {e["bucket"] for e in m["entries"]}
                new = [e for e in entries if e["bucket"] not in have]
            elif set(consumed).isdisjoint(m["consumed"]):
                new = entries
                m["consumed"] += consumed
            else:
                new = []
            m["snapshot_id"] += 1
            kept = [{**e, "snapshot": m["snapshot_id"]} for e in new]
            m["entries"] += kept
        return kept

    def snapshots(self) -> list[dict]:
        """Available snapshot versions, oldest first: one dict per
        commit (id, entry count, run ids) — the Iceberg snapshot-log
        equivalent.  Snapshots expired by vacuum() are absent."""
        m = self._load()
        out = []
        for s in range(m["expired_before"], m["snapshot_id"] + 1):
            entries = self._as_of(m, s)
            out.append({"snapshot_id": s, "n_entries": len(entries),
                        "runs": sorted({e["run_id"] for e in entries})})
        return out

    def committed_runs(self) -> set[str]:
        """The run ids of the live entries."""
        return {e["run_id"] for e in self._load()["entries"]}

    def consumed_files(self) -> set[str]:
        """The input files stream commits recorded as extracted; a
        compaction keeps them."""
        return set(self._load()["consumed"])

    # -- maintenance ---------------------------------------------------------
    def compact(self, spark: SparkSession,
                num_partitions: int | None = None) -> dict:
        """Rewrite all committed data into one wave of ONE run, each
        bucket's rows in one file, then swap the manifest atomically —
        the small-files maintenance every long-lived wave/increment
        table needs (the Iceberg path gets this from rewrite_data_files).

        Correctness properties (tests/test_formats.py):
        - snapshot-isolated: readers see either the old entries or the
          new ones, never a mix of old and new files for one bucket;
          entries committed by OTHER writers between our snapshot and
          the swap are preserved untouched;
        - lineage-preserving: the per-bucket doc/span counts are summed
          and the order-insensitive xor checksums FOLD (xor of the old
          entries' checksums == checksum of the merged rows), so the
          compacted entries still verify() against a full payload rehash
          without recomputing anything at compact time;
        - time-travel-preserving: the replaced entries move to
          ``removed``, stamped with this snapshot, so earlier snapshots
          stay readable until vacuum() deletes their files;
        - streaming-idempotent: the consumed input files stay in the
          manifest, so a retried increment still commits nothing;
        - crash-safe: a crash before the swap leaves the manifest (and
          readers) untouched; the orphan half-written run dir is removed
          by vacuum().
        """
        entries = self._load()["entries"]
        if not entries:
            return {"compacted_entries": 0, "run_id": None}
        run_id = f"compact{uuid.uuid4().hex[:12]}"
        n = num_partitions or spark.sparkContext.defaultParallelism
        # "run" is a DISCOVERED partition column (dir layout run=<id>) —
        # persisting it as a data column would collide with discovery on
        # the next read of the compacted files
        wave = wave_name(self.write_wave(
            self._read(spark, entries).drop("run").repartition(n, "bucket"),
            run_id))

        by_bucket: dict[int, dict] = {}
        for e in entries:
            b = by_bucket.setdefault(e["bucket"], {
                "doc_count": 0, "span_count": 0, "ck": 0,
                "watermark": e["watermark"]})
            b["doc_count"] += e["doc_count"]
            b["span_count"] += e["span_count"]
            b["ck"] ^= int(e["checksum"], 16)  # xor folds across runs
            b["watermark"] = max(b["watermark"], e["watermark"])
        snap_keys = {(e["bucket"], e["run_id"]) for e in entries}
        with self._update() as m:
            m["snapshot_id"] += 1
            s = m["snapshot_id"]
            m["removed"] += [{**e, "removed": s} for e in m["entries"]
                             if (e["bucket"], e["run_id"]) in snap_keys]
            # entries committed since our snapshot survive untouched
            m["entries"] = [
                e for e in m["entries"]
                if (e["bucket"], e["run_id"]) not in snap_keys
            ] + [
                {
                    "bucket": k,
                    "run_id": run_id,
                    "wave": wave,
                    "snapshot": s,
                    "doc_count": b["doc_count"],
                    "span_count": b["span_count"],
                    "checksum": checksum_hex(b["ck"]),
                    "watermark": b["watermark"],
                }
                for k, b in sorted(by_bucket.items())
            ]
        return {"compacted_entries": len(entries),
                "buckets": len(by_bucket), "run_id": run_id}

    def vacuum(self) -> list[str]:
        """Expire the snapshots that read compacted-away entries, then
        delete the run and wave directories no live entry references
        (post-compaction cleanup; also removes half-written waves left by
        a crash BEFORE their commit, inside a resumed run too).  Expiry
        comes first, as in Iceberg's expire_snapshots before orphan-file
        deletion: a crash between the two steps leaves only orphan
        directories, which the next vacuum() removes.  Must not race a
        live writer whose wave is written but not yet committed — run it
        from the maintenance job, not concurrently with ingestion."""
        with self._update() as m:
            m["expired_before"] = max(
                [m["expired_before"]] + [e["removed"] for e in m["removed"]])
            m["removed"] = []
            live = {self.wave_dir(e["run_id"], e["wave"])
                    for e in m["entries"]}
        live_runs = {os.path.dirname(w) for w in live}
        runs = os.path.join(glob.escape(self.data_dir), "run=*")
        removed = ([d for d in glob.glob(runs) if d not in live_runs]
                   + [w for w in glob.glob(os.path.join(runs, "wave=*"))
                      if os.path.dirname(w) in live_runs and w not in live])
        for d in removed:
            shutil.rmtree(d, ignore_errors=True)
        return removed

    # -- I/O ----------------------------------------------------------------
    def write_wave(self, df: DataFrame, run_id: str) -> str:
        """Write ``df`` as plain parquet, one file per task, into a fresh
        wave directory of run ``run_id``; returns that directory.  Fresh
        on every call, so a run resumed under the same id never appends
        into a crashed attempt's files.  The name starts with a letter,
        so partition discovery reads ``wave`` as a string in every
        table."""
        out = self.wave_dir(run_id, f"w{uuid.uuid4().hex[:12]}")
        df.write.option("compression", SINK_CODEC).parquet(out)
        return out

    def _read(self, spark: SparkSession, entries: list[dict]) -> DataFrame:
        """The rows of ``entries``: their distinct wave directories,
        filtered to the committed (wave, bucket) pairs, because in batch
        mode a wave can hold a bucket that another run committed first."""
        waves = sorted({self.wave_dir(e["run_id"], e["wave"])
                        for e in entries})
        pairs = ", ".join(f"('{e['wave']}', {e['bucket']})" for e in entries)
        return (spark.read.option("basePath", self.data_dir).parquet(*waves)
                .where(f"(wave, bucket) IN ({pairs})").drop("wave"))

    def read(self, spark: SparkSession,
             as_of: int | None = None) -> DataFrame:
        """Union of committed (bucket, run) entries only —
        uncommitted files are invisible (snapshot isolation).  ``as_of``
        time-travels to an earlier snapshot (``snapshots()`` lists
        them); valid until vacuum() expires snapshots whose files a
        compaction absorbed — exactly Iceberg's read-as-of +
        expire_snapshots contract."""
        m = self._load()
        entries = m["entries"] if as_of is None else self._as_of(m, as_of)
        if not entries:
            raise FileNotFoundError(f"no committed data in {self.root}")
        return self._read(spark, entries)

    def read_incremental(self, spark: SparkSession,
                         since: int) -> DataFrame:
        """Rows committed AFTER snapshot ``since`` (Iceberg incremental
        read): the live entries stamped with a later snapshot, so a
        downstream consumer can process only new data per poll without
        replaying the table.  A compaction re-stamps OLD rows with its
        own snapshot, so they re-appear as 'new': consumers should poll
        between maintenance windows or track doc-level watermarks on
        top."""
        m = self._load()
        self._as_of(m, since)  # raises for an expired or unknown snapshot
        new = [e for e in m["entries"] if e["snapshot"] > since]
        if not new:
            raise FileNotFoundError(
                f"no entries committed after snapshot {since} in {self.root}")
        return self._read(spark, new)

    def verify(self, spark: SparkSession) -> list[dict]:
        """Integrity audit: RE-COMPUTE each committed (bucket, run)'s
        doc count / span count / order-insensitive checksum from the
        span payloads as read back off disk — re-hashing, not trusting
        the doc_hash/n_spans columns persisted at write time — and diff
        against the lineage rows.  Returns one dict per mismatching
        entry (empty list = table verifies).  This is the read-side
        counterpart of the E9 write-side lineage: because the hash is
        recomputed from the nested payloads, it catches corrupted or
        truncated span data, not just lost/duplicated rows.  (The cheap
        per-wave lineage is computed on the driver from the stored
        columns in plans/pipeline.py — this full-payload audit, a Spark
        job, is the deep check.)
        """
        from pyspark.sql import functions as F

        entries = self._load()["entries"]
        if not entries:
            return []
        df = self._read(spark, entries)
        _, row_hash = lineage_exprs(df)
        run_col = F.regexp_extract(F.input_file_name(), r"run=([^/]+)", 1)
        actual = {
            (int(r["bucket"]), r["run_id"]): r
            for r in df.withColumn("run_id", run_col)
            .withColumn("_rh", row_hash)
            .groupBy("bucket", "run_id")
            .agg(
                F.count("*").alias("doc_count"),
                F.sum(F.size("spans")).alias("span_count"),
                F.expr("bit_xor(_rh)").alias("checksum"),
            )
            .collect()
        }
        bad = []
        for e in entries:
            a = actual.get((e["bucket"], e["run_id"]))
            got = (
                None
                if a is None
                else {
                    "doc_count": int(a["doc_count"]),
                    "span_count": int(a["span_count"]),
                    "checksum": checksum_hex(a["checksum"]),
                }
            )
            want = {k: e[k] for k in ("doc_count", "span_count", "checksum")}
            if got != want:
                bad.append({"bucket": e["bucket"], "run_id": e["run_id"],
                            "expected": want, "actual": got})
        return bad


class IcebergTable:
    """Plan-construction contract for the production Iceberg path: it
    builds the read and write plans, whose execution needs
    iceberg-spark-runtime and a configured catalog (unavailable
    in-sandbox — SURVEY.md §4.4).  It keeps no lineage, so run_extract
    refuses it at committed_buckets() before any write."""

    def __init__(self, identifier: str) -> None:
        self.identifier = identifier

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.format("iceberg").load(self.identifier)

    def write_plan(self, df: DataFrame):
        """DataFrameWriterV2 for the append — split out so tests can
        construct the production write plan without a live catalog
        (plan construction needs no Iceberg jar; only execution does)."""
        return df.writeTo(self.identifier).option("write-format", "parquet")

    def committed_buckets(self) -> set[int]:  # via snapshot summary in prod
        raise NotImplementedError("requires a live Iceberg catalog")


def open_table(root_or_identifier: str):
    if root_or_identifier.startswith("iceberg:"):
        return IcebergTable(root_or_identifier[len("iceberg:"):])
    return ParquetManifestTable(root_or_identifier)
