"""Per-document span-sequence correctness gate (SURVEY.md §5.1/§5.3/§5.4).

The north-rule invariant — span-sequence equality (kind, text,
media_ref, order) per document — is enforced three ways:

1. GOLDEN: the distributed pipeline's output over the deterministic
   synthetic corpus must equal tests/golden/extract_seed42_n120.json,
   a frozen snapshot produced by the straight-line single-process
   extractor. Any semantic drift in tokenizers/classifiers/stitching
   breaks this loudly. (When the reference corpus materializes, these
   goldens are to be swapped for reference outputs — SURVEY.md §0.)
2. ORACLE: the same comparison recomputed live against extract_doc run
   in-driver over plain dicts — catches partition/ordering/Arrow
   round-trip bugs independent of the frozen file.
3. PROPERTIES (hypothesis): dense 0..n-1 order, offset-monotone
   restitch, media spans never dropped, pipeline output invariant
   under input partitioning.

Plus the restart gate: an injected mid-job crash + resume must be
byte-identical to a single-shot run (E9/E10).
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocr_spark.config import DEFAULT
from ocr_spark.functions.extract_core import extract_doc
from ocr_spark.operators.extract import extract_stage
from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL, make_docs

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "extract_seed42_n120.json")
N_GOLDEN, SEED = 120, 42


def _canonical(extracted_rows) -> dict[str, list[list]]:
    """doc_id -> [[kind, text, media_ref, order], ...] (order-sorted)."""
    out = {}
    for r in extracted_rows:
        spans = sorted((s["order"], s) for s in r["spans"])
        out[r["doc_id"]] = [
            [s["kind"], s["text"], s["media_ref"], s["order"]] for _, s in spans
        ]
    return out


def _reference_extraction() -> dict[str, list[list]]:
    """Straight-line, single-process extraction of the synthetic corpus —
    no Spark, no partitioning, no Arrow."""
    res = {}
    for d in make_docs(N_GOLDEN, seed=SEED, mega_every=40):
        spans = extract_doc(d["doc_id"], d["spans"], DEFAULT)
        res[d["doc_id"]] = [
            [s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans
        ]
    return res


def _spark_extraction(spark, partitions: int) -> dict[str, list[list]]:
    docs = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
         for d in make_docs(N_GOLDEN, seed=SEED, mega_every=40)],
        SPAN_SCHEMA_DDL,
    ).repartition(partitions)
    rows = extract_stage(docs).collect()
    return _canonical([r.asDict(recursive=True) for r in rows])


def test_golden_span_sequences(spark):
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = _spark_extraction(spark, partitions=7)
    assert set(got) == set(golden)
    mismatches = [d for d in golden if got[d] != golden[d]]
    assert not mismatches, (
        f"{len(mismatches)} docs diverge from golden; first: "
        f"{mismatches[0]}: {got[mismatches[0]][:3]} vs {golden[mismatches[0]][:3]}"
    )


def test_live_oracle_span_sequences(spark):
    want = _reference_extraction()
    got = _spark_extraction(spark, partitions=13)
    assert got == want


def test_partitioning_invariance(spark):
    assert _spark_extraction(spark, 1) == _spark_extraction(spark, 17)


def test_fast_html_tokenizer_equals_stdlib():
    # the regex scanner is the hot path; the stdlib html.parser drive is
    # kept as a second implementation and must agree item-for-item
    from ocr_spark.functions.htmlx import tokenize_html

    frags = [
        s["text"] for d in make_docs(500, seed=11, mega_every=50)
        for s in d["spans"] if s["kind"] == "html"
    ]
    assert frags, "corpus produced no html payloads"
    for f in frags:
        assert tokenize_html(f, DEFAULT) == tokenize_html(f, DEFAULT, use_stdlib=True)


# ---------------------------------------------------------------------------
# hypothesis properties over arbitrary span sequences (driver-side core)
# ---------------------------------------------------------------------------

_span = st.one_of(
    st.tuples(st.just("text"), st.text(max_size=30), st.none()),
    st.tuples(st.just("media"), st.none(), st.text(min_size=1, max_size=10)),
    st.tuples(st.just("html"),
              st.text(alphabet="<p>ab c</", max_size=40), st.none()),
)


@st.composite
def _doc(draw):
    spans = draw(st.lists(_span, max_size=12))
    offs = draw(st.lists(st.integers(0, 1000),
                         min_size=len(spans), max_size=len(spans)))
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for (k, t, m), o in zip(spans, offs)
    ]


@given(_doc())
@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_order_dense_and_kinds_consistent(spans):
    out = extract_doc("d", spans, DEFAULT)
    assert [o["order"] for o in out] == list(range(len(out)))
    for o in out:
        # exactly one of text/media_ref is set, matching the kind
        assert (o["kind"] == "text") == (o["media_ref"] is None)
        assert (o["kind"] == "media") == (o["text"] is None)


@given(_doc())
@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_media_spans_never_dropped(spans):
    out = extract_doc("d", spans, DEFAULT)
    # every input media span survives, in (offset, input-index) order
    want_media = [
        sp["media_ref"]
        for _i, sp in sorted(enumerate(spans),
                             key=lambda p: (p[1]["offset"], p[0]))
        if sp["kind"] == "media"
    ]
    got_media = [o["media_ref"] for o in out if o["kind"] == "media"]
    assert got_media == want_media


# ---------------------------------------------------------------------------
# restart / idempotency (E9/E10) inside pytest
# ---------------------------------------------------------------------------


def test_crash_restart_byte_identical(spark, tmp_path):
    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import run_extract
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    cfg = ExtractConfig(salt_buckets=16)
    docs = generate_interleaved(spark, 150, seed=9, partitions=4)

    single = str(tmp_path / "single")
    run_extract(spark, docs, single, cfg=cfg, num_partitions=8)

    crashy = str(tmp_path / "crashy")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract(spark, docs, crashy, cfg=cfg, num_partitions=8,
                    wave_size=5, fail_after_waves=1)
    m = run_extract(spark, docs, crashy, cfg=cfg, num_partitions=8, wave_size=5)
    assert m["skipped_buckets"] == 5

    key = lambda path: sorted(
        (r["doc_id"], r["j"]) for r in ParquetManifestTable(path).read(spark)
        .select("doc_id", F.to_json("spans").alias("j")).collect()
    )
    assert key(single) == key(crashy)

    # a third run is a no-op (all buckets committed)
    m2 = run_extract(spark, docs, crashy, cfg=cfg, num_partitions=8)
    assert m2["docs"] == 0 and m2["skipped_buckets"] == 16


def test_flate_compressed_pdf_extracts_identically():
    # real-world PDFs flate-compress content streams; tokenization must
    # be byte-equivalent either way
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [
        {"kind": "header", "x": 72, "y": 760, "lines": ["Page header one"]},
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["alpha bravo charlie delta", "echo foxtrot golf hotel",
                   "india juliet kilo lima"]},
        {"kind": "table", "x": 72, "y": 560,
         "lines": ["a             12      34", "b             56      78",
                   "c             90      12"]},
        {"kind": "figure", "x": 100, "y": 400, "w": 120, "h": 80},
        {"kind": "footer", "x": 72, "y": 30, "lines": ["p. 1"]},
    ]
    plain = extract_pdf_blocks(write_pdf(blocks, compress=False))
    flate = extract_pdf_blocks(write_pdf(blocks, compress=True))
    assert plain == flate
    assert [b.kind for b in plain].count("text-block") >= 1
    assert "figure" in [b.kind for b in plain]


@given(st.text(alphabet="<>/ab c=\"'p1&;!-nav", max_size=120))
@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_fast_html_tokenizer_fuzz_equals_stdlib(fragment):
    # adversarial tag soup (unclosed tags, stray brackets, half-entities,
    # quote mixes): the regex scanner and the stdlib parser drive must
    # produce the same item stream
    from ocr_spark.functions.htmlx import tokenize_html

    assert tokenize_html(fragment, DEFAULT) == tokenize_html(
        fragment, DEFAULT, use_stdlib=True
    )


def test_manifest_verify_detects_tampering(spark, tmp_path):
    """ParquetManifestTable.verify: clean table verifies; a dropped data
    file is reported against the lineage checksums."""
    import glob
    import os as _os

    import pyarrow.parquet as pq

    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import run_extract
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    out = str(tmp_path / "t")
    docs = generate_interleaved(spark, 80, seed=5, partitions=4)
    run_extract(spark, docs, out, cfg=ExtractConfig(salt_buckets=8),
                num_partitions=4)
    tbl = ParquetManifestTable(out)
    assert tbl.verify(spark) == []

    # the first file holding rows (task 0 writes a file even when empty)
    victim = next(f for f in sorted(glob.glob(
        f"{out}/data/run=*/**/*.parquet", recursive=True))
        if pq.read_metadata(f).num_rows)
    stored = set(pq.read_table(victim, columns=["bucket"])["bucket"]
                 .to_pylist())
    _os.remove(victim)
    bad = tbl.verify(spark)
    assert bad, "verify() missed a deleted data file"
    assert {b["bucket"] for b in bad} == stored


def test_manifest_verify_detects_payload_corruption(spark, tmp_path):
    """verify() re-hashes the span payloads read back from disk, so
    silently corrupted span TEXT (row counts intact, stored doc_hash
    column intact) must still be caught."""
    import glob

    import pyarrow.parquet as pq

    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import run_extract
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    out = str(tmp_path / "t")
    docs = generate_interleaved(spark, 60, seed=7, partitions=4)
    run_extract(spark, docs, out, cfg=ExtractConfig(salt_buckets=8),
                num_partitions=4)
    tbl = ParquetManifestTable(out)
    assert tbl.verify(spark) == []

    # flip one span's text in the first file holding rows (task 0 writes
    # a file even when empty), keeping every other column (including the
    # persisted doc_hash) byte-identical
    victim = next(f for f in sorted(glob.glob(
        f"{out}/data/run=*/**/*.parquet", recursive=True))
        if pq.read_metadata(f).num_rows)
    # drop Hadoop's local-FS .crc sidecar: object stores don't have it,
    # and the point of this test is that OUR lineage layer catches the
    # corruption, not the local filesystem's courtesy checksum
    import os as _os
    crc = _os.path.join(_os.path.dirname(victim),
                        f".{_os.path.basename(victim)}.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    t = pq.read_table(victim)
    data = t.to_pydict()
    spans = data["spans"]
    for i, row in enumerate(spans):
        if row:
            row[0]["text"] = "CORRUPTED"
            break
    pq.write_table(t.from_pydict(data, schema=t.schema), victim)
    bad = tbl.verify(spark)
    assert bad, "verify() trusted stored hashes and missed payload corruption"
    assert [b["bucket"] for b in bad] == [data["bucket"][i]]


def test_pdf_multi_stream_no_phantom_segment():
    """Regression: the stream-keyword scan must not match the 'stream'
    suffix inside 'endstream' — that phantom segment re-parsed the NEXT
    stream's body and duplicated its text in multi-stream PDFs."""
    from ocr_spark.functions.pdfx import tokenize_pdf

    c1 = "BT /F1 12 Tf 1 0 0 1 72 700 Tm (first) Tj ET\n"
    c2 = "BT /F1 12 Tf 1 0 0 1 72 600 Tm (second) Tj ET\n"
    doc = (f"<< /Length {len(c1)} >>\nstream\n{c1}\nendstream\n"
           f"2 0 obj\n<< /Length {len(c2)} >>\nstream\n{c2}\nendstream\n"
           ).encode("latin-1")
    runs = tokenize_pdf(doc)[0]
    assert [r.text for r in runs] == ["first", "second"], [r.text for r in runs]


def test_pdf_stream_keyword_inside_body_not_a_segment():
    """Regression (ADVICE r2): 'stream\\n' bytes INSIDE a /Length-sliced
    body (compressed payloads contain arbitrary bytes) must not start a
    phantom segment — that injected garbage runs AND shifted the
    positional page index of every later real stream."""
    from ocr_spark.functions.pdfx import tokenize_pdf

    # body1 carries a literal 'stream\n' byte sequence mid-payload
    c1 = "BT /F1 12 Tf 1 0 0 1 72 700 Tm (first) Tj ET\nstream\n(junk) Tj\n"
    c2 = "BT /F1 12 Tf 1 0 0 1 72 600 Tm (second) Tj ET\n"
    doc = (f"1 0 obj\n<< /Length {len(c1)} >>\nstream\n{c1}\nendstream\nendobj\n"
           f"2 0 obj\n<< /Length {len(c2)} >>\nstream\n{c2}\nendstream\nendobj\n"
           ).encode("latin-1")
    runs = tokenize_pdf(doc)[0]
    # exactly two segments; '(junk)' sits after ET inside body1 so it is
    # never emitted; page 2's text stays on page index 1 (no shift)
    assert [(r.text, r.page) for r in runs] == [("first", 0), ("second", 1)], [
        (r.text, r.page) for r in runs
    ]


def test_chunked_and_unchunked_runs_commit_identical_lineage(spark, tmp_path):
    """Chunking is private to balanced_extract: an unchunked run, a
    chunked run, and an unchunked crash resumed chunked (the restart
    processes only the missing buckets) commit the same per-bucket
    (doc_count, span_count, checksum) entries, and each table passes
    its payload-rehash audit."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import run_extract
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    plain = ExtractConfig(salt_buckets=8)
    chunked = ExtractConfig(salt_buckets=8, chunk_max_spans=3)
    docs = generate_interleaved(spark, 60, seed=11, partitions=4,
                                mega_every=20).localCheckpoint()
    run_extract(spark, docs, str(tmp_path / "plain"), cfg=plain,
                num_partitions=4)
    run_extract(spark, docs, str(tmp_path / "chunked"), cfg=chunked,
                num_partitions=4)
    mixed = str(tmp_path / "mixed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract(spark, docs, mixed, cfg=plain, num_partitions=4,
                    wave_size=4, fail_after_waves=1)
    m = run_extract(spark, docs, mixed, cfg=chunked, num_partitions=4)
    assert m["skipped_buckets"] == 4

    lineage = {}
    for name in ("plain", "chunked", "mixed"):
        tbl = ParquetManifestTable(str(tmp_path / name))
        assert "chunk_id" not in tbl.read(spark).columns
        assert tbl.verify(spark) == [], f"{name} table failed its audit"
        lineage[name] = sorted(
            (e["bucket"], e["doc_count"], e["span_count"], e["checksum"])
            for e in tbl.lineage())
    assert len(lineage["plain"]) == 8
    assert lineage["plain"] == lineage["chunked"] == lineage["mixed"]


def test_wave_lineage_reads_only_its_own_buckets(spark, tmp_path):
    """Every wave of a run writes its own directory; a wave's lineage
    scan must read only that wave's buckets.  A resume under the same
    run_id whose earlier wave's files are unreadable still commits its
    own buckets."""
    import glob

    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import run_extract
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    cfg = ExtractConfig(salt_buckets=8)
    docs = generate_interleaved(spark, 60, seed=13, partitions=4)
    out = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract(spark, docs, out, cfg=cfg, num_partitions=4,
                    run_id="r1", wave_size=4, fail_after_waves=1)
    tbl = ParquetManifestTable(out)
    first = sorted(tbl.lineage(), key=lambda e: e["bucket"])
    assert [e["bucket"] for e in first] == [0, 1, 2, 3]
    # corrupt every committed wave's files, not just one: schema
    # inference must not be what touches them either
    files = {f for e in first for f in glob.glob(os.path.join(
        tbl.wave_dir(e["run_id"], e["wave"]), "*.parquet"))}
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    m = run_extract(spark, docs, out, cfg=cfg, num_partitions=4,
                    run_id="r1", wave_size=4)
    assert m["skipped_buckets"] == 4 and m["docs"] > 0
    assert sorted(e["bucket"] for e in tbl.lineage()) == list(range(8))


def test_wave_lineage_starts_no_spark_job(spark, tmp_path):
    """A wave's lineage is computed on the driver from the files the
    wave wrote, with no Spark job, and equals Spark's own per-bucket
    count, span sum and xor over the same files, negative row hashes
    included.  A wave that wrote no rows has no lineage."""
    from ocr_spark.plans.pipeline import _wave_lineage
    from ocr_spark.sources.formats import checksum_hex

    wave = str(tmp_path / "run=r" / "wave=wtest")
    (spark.range(0, 200, 1, 4)
     .selectExpr("CAST(id % 8 AS INT) AS bucket",
                 "xxhash64(id) AS doc_hash", "CAST(id % 5 AS INT) AS n_spans")
     .write.parquet(wave))
    assert len([f for f in os.listdir(wave) if f.endswith(".parquet")]) == 4
    stored = spark.read.parquet(wave)
    assert stored.where("doc_hash < 0").count() > 0
    want = sorted(
        (r["bucket"], "wtest", r["n"], r["s"], checksum_hex(r["x"]))
        for r in stored.groupBy("bucket").agg(
            F.count("*").alias("n"), F.sum("n_spans").alias("s"),
            F.expr("bit_xor(doc_hash)").alias("x")).collect())
    assert len(want) == 8

    empty = str(tmp_path / "run=r" / "wave=wempty")
    stored.limit(0).write.parquet(empty)
    sc = spark.sparkContext
    sc.setJobGroup("lineage", "wave lineage")
    try:
        entries = _wave_lineage(wave, "r", "wm")
        no_rows = _wave_lineage(empty, "r", "wm")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("lineage") == []
    assert sorted((e["bucket"], e["wave"], e["doc_count"], e["span_count"],
                   e["checksum"]) for e in entries) == want
    assert {(e["run_id"], e["watermark"]) for e in entries} == {("r", "wm")}
    assert no_rows == []


def _json_rows(df):
    return sorted((r["doc_id"], r["j"]) for r in
                  df.select("doc_id", F.to_json("spans").alias("j")).collect())


def test_resume_after_a_crash_between_write_and_commit(spark, tmp_path,
                                                       monkeypatch):
    """A wave written but never committed must not leak into a resume
    under the same run_id: the resumed wave writes a fresh directory, so
    the table holds each document once, and vacuum() removes the crashed
    attempt's wave from the live run."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import extract_dataframe, run_extract
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    cfg = ExtractConfig(salt_buckets=8)
    docs = generate_interleaved(spark, 60, seed=13, partitions=4)
    out = str(tmp_path / "t")
    commit, calls = ParquetManifestTable.commit, []

    def crash_on_second_commit(self, entries, consumed=None):
        calls.append(len(entries))
        if len(calls) == 2:
            raise RuntimeError("injected crash before commit")
        return commit(self, entries, consumed)

    monkeypatch.setattr(ParquetManifestTable, "commit",
                        crash_on_second_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_extract(spark, docs, out, cfg=cfg, num_partitions=4,
                    run_id="r1", wave_size=4)
    monkeypatch.undo()
    run_extract(spark, docs, out, cfg=cfg, num_partitions=4, run_id="r1",
                wave_size=4)

    tbl = ParquetManifestTable(out)
    want = _json_rows(extract_dataframe(docs, cfg, num_partitions=4))
    assert len(want) == 60
    assert _json_rows(tbl.read(spark)) == want
    assert sum(e["doc_count"] for e in tbl.lineage()) == 60
    assert tbl.verify(spark) == []
    removed = tbl.vacuum()
    assert [os.path.basename(os.path.dirname(d)) for d in removed] == [
        "run=r1"]
    assert _json_rows(tbl.read(spark)) == want


def test_readers_skip_buckets_another_run_committed_first(spark, tmp_path):
    """In batch mode commit keeps a bucket's first entry only, so a wave
    can hold rows of buckets it never committed: run r1 commits buckets
    0-3, then a one-wave run r2 writes all 8 and commits 4-7.  Reads,
    the audit and commit_wave's returned entries (which run_extract sums
    into its metrics) must see r2's rows of buckets 4-7 only."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.operators.skew import with_bucket
    from ocr_spark.plans.pipeline import (
        balanced_extract,
        commit_wave,
        extract_dataframe,
        run_extract,
    )
    from ocr_spark.sources.corpus import generate_interleaved
    from ocr_spark.sources.formats import ParquetManifestTable

    cfg = ExtractConfig(salt_buckets=8)
    docs = generate_interleaved(spark, 60, seed=13, partitions=4)
    out = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract(spark, docs, out, cfg=cfg, num_partitions=4,
                    run_id="r1", wave_size=4, fail_after_waves=1)
    tbl = ParquetManifestTable(out)
    kept = commit_wave(tbl,
                       balanced_extract(with_bucket(docs, cfg), cfg, 4),
                       "r2", "2026-01-01T00:00:00Z")
    lineage = tbl.lineage()
    assert sorted((e["run_id"], e["bucket"]) for e in lineage) == [
        ("r1", b) for b in range(4)] + [("r2", b) for b in range(4, 8)]
    assert sorted(e["bucket"] for e in kept) == list(range(4, 8))
    assert kept == [e for e in lineage if e["run_id"] == "r2"]

    got = _json_rows(tbl.read(spark))
    assert len({d for d, _ in got}) == len(got)
    assert got == _json_rows(extract_dataframe(docs, cfg, num_partitions=4))
    assert tbl.verify(spark) == []


def test_pdf_multi_page_document_order():
    """Each content stream is a page with its OWN coordinate space:
    page 1's blocks must all precede page 2's, even though page 2's top
    block has a higher y than page 1's lower blocks — a whole-document
    y-sort would interleave the pages."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    p1 = [
        {"kind": "header", "x": 72, "y": 760, "lines": ["hdr alpha"]},
        {"kind": "text", "x": 72, "y": 300,
         "lines": ["page one low block words here ok"]},
    ]
    p2 = [{"kind": "text", "x": 72, "y": 760,
           "lines": ["page two top block content words"]}]
    for compress in (False, True):
        blocks = extract_pdf_blocks(write_pdf_pages([p1, p2], compress=compress))
        texts = [b.text for b in blocks if b.text]
        assert texts.index("page one low block words here ok") < texts.index(
            "page two top block content words"), texts


def test_pdf_utf16be_strings_decode():
    """Strings with the FE FF BOM are UTF-16BE — how real producers
    encode non-ASCII text — in both hex and literal forms."""
    from ocr_spark.functions.pdfx import tokenize_pdf

    # "Héllo→" in UTF-16BE hex, plus a literal string carrying the BOM
    hx = "feff" + "Héllo→".encode("utf-16-be").hex()
    lit = ("\xfe\xff" + "Ωmega".encode("utf-16-be").decode("latin-1")
           ).replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    content = (f"BT /F1 12 Tf 1 0 0 1 72 700 Tm <{hx}> Tj "
               f"T* ({lit}) Tj ET\n")
    doc = (f"<< /Length {len(content.encode('latin-1'))} >>\nstream\n"
           f"{content}\nendstream").encode("latin-1")
    runs = tokenize_pdf(doc)[0]
    assert [r.text for r in runs] == ["Héllo→", "Ωmega"], [r.text for r in runs]


def test_pdf_hex_strings_tokenize():
    """Hex strings <...> are the other literal-string syntax real PDF
    producers emit; whitespace inside is ignored and odd length pads a
    trailing zero nibble."""
    from ocr_spark.functions.pdfx import tokenize_pdf

    content = (
        "BT /F1 12 Tf 14 TL\n"
        "1 0 0 1 72 700 Tm\n"
        "<48 65 6C6C 6F> Tj\n"      # "Hello" with embedded whitespace
        "T* [<77 6F72> (ld) <21>] TJ\n"  # mixed hex + literal in TJ array
        "ET\n"
    )
    doc = (f"<< /Length {len(content)} >>\nstream\n{content}\nendstream"
           ).encode("latin-1")
    runs = tokenize_pdf(doc)[0]
    texts = [r.text for r in runs]
    assert texts == ["Hello", "world!"], texts


def test_compressed_corpus_extracts_identically(spark):
    """Corpus-wide A/B: flate-compressing PDF content streams (the
    real-world producer default) must not change a single extracted
    span.  compress_every=2 compresses roughly half the PDF spans; the
    default corpus stays bit-identical to the pinned goldens."""
    from ocr_spark.sources.corpus import make_docs

    plain = make_docs(80, seed=21, mega_every=40)
    comp = make_docs(80, seed=21, mega_every=40, compress_every=2)
    n_pdf = sum(1 for d in comp for s in d["spans"] if s["kind"] == "pdf_bytes")
    n_changed = sum(
        1 for dp, dc in zip(plain, comp)
        for sp, sc in zip(dp["spans"], dc["spans"]) if sp["text"] != sc["text"]
    )
    assert n_pdf > 0 and n_changed > 0, "fixture compressed nothing"

    out = {}
    for tag, docs in (("plain", plain), ("comp", comp)):
        df = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
            SPAN_SCHEMA_DDL,
        ).repartition(5)
        rows = extract_stage(df).collect()
        out[tag] = _canonical([r.asDict(recursive=True) for r in rows])
    assert out["plain"] == out["comp"]


def test_chunked_extraction_equals_unsplit(spark):
    """E2 weight variant: sub-splitting mega-docs into bounded chunks and
    restitching must reproduce the unsplit extraction span-for-span, for
    chunk sizes that do and don't divide the span counts."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import extract_dataframe
    from ocr_spark.sources.corpus import generate_interleaved

    docs = generate_interleaved(spark, 60, seed=9, partitions=4,
                                mega_every=30).localCheckpoint()
    base = extract_dataframe(docs).select("doc_id", F.to_json("spans").alias("j"))
    for cs in (1, 5):
        split = extract_dataframe(
            docs, ExtractConfig(chunk_max_spans=cs), num_partitions=6
        ).select("doc_id", F.to_json("spans").alias("j"))
        assert base.exceptAll(split).count() == 0
        assert split.exceptAll(base).count() == 0


def test_chunking_bounds_straggler_weight(spark):
    """One 500x-median doc must not serialize onto one task: after
    chunk_spans + chunk-aware repartition, the max per-partition span
    weight is bounded near the mean instead of being dominated by the
    mega-doc."""
    from ocr_spark.operators.skew import chunk_spans

    mega = [("text", f"t{i}", None, i) for i in range(1000)]
    rows = [("mega", mega)] + [
        (f"d{i}", [("text", f"x{j}", None, j) for j in range(2)])
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    chunked = chunk_spans(docs, max_spans=16).repartition(8, "doc_id", "chunk_id")
    w = (chunked.select(F.spark_partition_id().alias("p"),
                        F.size("spans").alias("n"))
         .groupBy("p").agg(F.sum("n").alias("weight")).collect())
    weights = [r["weight"] for r in w]
    total = sum(weights)
    assert total == 1000 + 100
    # unsplit, one partition would carry >= 1000/1100 of the weight;
    # split, no partition may dominate
    assert max(weights) <= 0.35 * total, f"straggler partition: {weights}"
    assert chunked.agg(F.max(F.size("spans"))).collect()[0][0] <= 16


def test_xref_stream_corpus_extracts_identically(spark):
    """Corpus-wide A/B for the PDF 1.5+ layout: writing every PDF span
    with a cross-reference stream + object stream (xref_every=1, half of
    them also flate-compressed) must not change a single extracted span
    vs the classic-xref corpus."""
    from ocr_spark.sources.corpus import make_docs

    classic = make_docs(80, seed=21, mega_every=40, compress_every=2)
    modern = make_docs(80, seed=21, mega_every=40, compress_every=2,
                       xref_every=1)
    n_changed = sum(
        1 for dp, dc in zip(classic, modern)
        for sp, sc in zip(dp["spans"], dc["spans"]) if sp["text"] != sc["text"]
    )
    assert n_changed > 0, "fixture rewrote nothing in the 1.5 layout"

    out = {}
    for tag, docs in (("classic", classic), ("modern", modern)):
        df = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
            SPAN_SCHEMA_DDL,
        ).repartition(5)
        rows = extract_stage(df).collect()
        out[tag] = _canonical([r.asDict(recursive=True) for r in rows])
    assert out["classic"] == out["modern"]


def test_xref_stream_multipage_order_and_fallback():
    """PDF 1.5 layout: (a) the structured parse orders pages by the page
    tree; (b) with the xref deliberately corrupted, the positional
    fallback must still extract the content streams WITHOUT tokenizing
    the /ObjStm or /XRef container bodies as page content."""
    import re

    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    p1 = [{"kind": "text", "x": 72, "y": 300,
           "lines": ["page one low block words here ok"]}]
    p2 = [{"kind": "text", "x": 72, "y": 760,
           "lines": ["page two top block content words"]}]
    doc = write_pdf_pages([p1, p2], xref_stream=True)
    texts = [b.text for b in extract_pdf_blocks(doc) if b.text]
    assert texts == ["page one low block words here ok",
                     "page two top block content words"], texts

    broken = re.sub(rb"startxref\s+\d+", b"startxref\n999999999", doc)
    fb = [b.text for b in extract_pdf_blocks(broken) if b.text]
    assert fb == texts, f"fallback mangled content: {fb}"


def test_xref_stream_with_png_predictor_decodes():
    """Real producers PNG-predict xref streams (/DecodeParms /Predictor
    12); the decoder must invert Up-filtered rows."""
    import zlib

    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    doc = write_pdf_pages(
        [[{"kind": "text", "x": 72, "y": 300,
           "lines": ["predictor page words content here ok"]}]],
        xref_stream=True)
    # rewrite the xref stream with Up-predicted rows
    import re as _re
    m = _re.search(
        rb"(\d+) 0 obj\n<< /Type /XRef /Size (\d+) /W \[1 4 2\] /Root 1 0 R "
        rb"/Length (\d+) /Filter /FlateDecode >>\nstream\n", doc)
    assert m, "fixture: xref stream dict not found"
    body_start = m.end()
    body = doc[body_start:body_start + int(m.group(3))]
    rows = zlib.decompress(body)
    W = 7
    out, prev = bytearray(), bytes(W)
    for i in range(0, len(rows), W):
        row = rows[i:i + W]
        out += bytes([2]) + bytes((row[j] - prev[j]) & 0xFF for j in range(W))
        prev = row
    new_body = zlib.compress(bytes(out))
    new_dict = (
        f"<< /Type /XRef /Size {int(m.group(2))} /W [1 4 2] /Root 1 0 R "
        f"/Length {len(new_body)} /Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns 7 >> >>\nstream\n"
    ).encode("latin-1")
    prefix = doc[:m.start()] + m.group(1) + b" 0 obj\n"
    suffix = doc[body_start + int(m.group(3)):]
    new_doc = prefix + new_dict + new_body + suffix
    # startxref offset unchanged: the xref obj is the last object and the
    # bytes BEFORE it are untouched
    texts = [b.text for b in extract_pdf_blocks(new_doc) if b.text]
    assert texts == ["predictor page words content here ok"], texts


def test_type0_cid_font_decodes_via_tounicode():
    """Type0/Identity-H show strings (2-byte CIDs) must decode through
    the font's /ToUnicode CMap — including non-latin-1 text, which the
    plain literal-string writer can't even represent — identically
    across classic/xref-stream layout and compression."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    p1 = [
        {"kind": "text", "x": 72, "y": 300,
         "lines": ["page one low block words here ok",
                   "ünïcode héllo wörld çontent"]},
    ]
    p2 = [{"kind": "text", "x": 72, "y": 700,
           "lines": ["page two words", "second line content here"]}]
    base = None
    for xrs in (False, True):
        for compress in (False, True):
            doc = write_pdf_pages([p1, p2], compress=compress,
                                  xref_stream=xrs, type0=True)
            got = [(b.kind, b.text, b.page) for b in extract_pdf_blocks(doc)]
            if base is None:
                base = got
            assert got == base, (xrs, compress, got)
    texts = "\n".join(t for _, t, _ in base)
    assert "ünïcode héllo wörld çontent" in texts, base


def test_type0_equals_plain_for_ascii():
    """For latin-1-representable text the Type0 rendering is a pure
    encoding change: extraction must equal the literal-string twin."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    pages = [[
        {"kind": "header", "x": 72, "y": 760, "lines": ["hdr alpha"]},
        {"kind": "text", "x": 72, "y": 300,
         "lines": ["plain ascii words here ok", "and a second line too"]},
    ]]
    plain = [(b.kind, b.text, b.page)
             for b in extract_pdf_blocks(write_pdf_pages(pages))]
    t0 = [(b.kind, b.text, b.page)
          for b in extract_pdf_blocks(write_pdf_pages(pages, type0=True))]
    assert plain == t0, (plain, t0)


def test_tounicode_cmap_parser_forms():
    """bfchar pairs, contiguous bfrange, and array-destination bfrange —
    the three forms real producers emit."""
    from ocr_spark.functions.pdfx import parse_tounicode_cmap

    cmap = parse_tounicode_cmap(b"""
    /CIDInit /ProcSet findresource begin
    begincmap
    2 beginbfchar
    <0001> <0041>
    <0002> <00E9>
    endbfchar
    1 beginbfrange
    <0010> <0012> <0061>
    endbfrange
    1 beginbfrange
    <0020> <0021> [<0058> <005A>]
    endbfrange
    endcmap end end
    """)
    assert cmap[1] == "A" and cmap[2] == "é"
    assert (cmap[0x10], cmap[0x11], cmap[0x12]) == ("a", "b", "c")
    assert (cmap[0x20], cmap[0x21]) == ("X", "Z")

    # non-BMP bfrange base (UTF-16BE surrogate pair, 8 hex digits):
    # stepping must increment the CODE POINT, not misread the pair as
    # one 32-bit scalar; ligature-expansion bases step their LAST char;
    # odd-digit hex gets an implicit leading zero (both in the wild)
    cmap = parse_tounicode_cmap(b"""
    begincmap
    1 beginbfrange
    <0030> <0032> <D835DC00>
    endbfrange
    1 beginbfrange
    <0040> <0041> <00660069>
    endbfrange
    1 beginbfchar
    <0050> <041>
    endbfchar
    endcmap
    """)
    assert (cmap[0x30], cmap[0x31], cmap[0x32]) == (
        "\U0001D400", "\U0001D401", "\U0001D402")
    assert (cmap[0x40], cmap[0x41]) == ("fi", "fj")
    assert cmap[0x50] == "A"


def test_type0_corpus_extracts_identically(spark):
    """Corpus-wide A/B: rendering every PDF span through the synthetic
    Type0 font (ASCII corpus, so the plain twin exists) must not change
    a single extracted span."""
    from ocr_spark.sources.corpus import make_docs

    plain = make_docs(60, seed=23, mega_every=30)
    t0 = make_docs(60, seed=23, mega_every=30, type0_every=1)
    n_changed = sum(
        1 for dp, dc in zip(plain, t0)
        for sp, sc in zip(dp["spans"], dc["spans"]) if sp["text"] != sc["text"]
    )
    assert n_changed > 0, "fixture rendered nothing through Type0"
    out = {}
    for tag, docs in (("plain", plain), ("t0", t0)):
        df = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
            SPAN_SCHEMA_DDL,
        ).repartition(5)
        rows = extract_stage(df).collect()
        out[tag] = _canonical([r.asDict(recursive=True) for r in rows])
    assert out["plain"] == out["t0"]


def test_inline_image_strips_payload_and_places_figure():
    """BI…ID <binary> EI: the binary payload (which deliberately contains
    fake strings, numbers, and operators) must never produce phantom
    text runs, and the image must land as a figure at its cm placement —
    bbox-identical to the `re f` rendering of the same block, across all
    four layout combinations."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["alpha bravo charlie delta words",
                   "echo foxtrot golf hotel more"]},
        {"kind": "figure", "x": 100, "y": 400, "w": 120, "h": 80},
        {"kind": "text", "x": 72, "y": 250,
         "lines": ["below the image text here ok"]},
    ]
    inline = [dict(b, inline=True) if b["kind"] == "figure" else b
              for b in blocks]
    for xrs in (False, True):
        for compress in (False, True):
            a = [(b.kind, b.text, b.bbox) for b in extract_pdf_blocks(
                write_pdf(blocks, compress=compress, xref_stream=xrs))]
            b2 = [(b.kind, b.text, b.bbox) for b in extract_pdf_blocks(
                write_pdf(inline, compress=compress, xref_stream=xrs))]
            assert a == b2, (xrs, compress, a, b2)
    texts = " ".join(t for _, t, _ in a)
    assert "fake" not in texts and "99" not in texts
    assert any(k == "figure" for k, _, _ in a)


def test_bi_inside_string_literal_is_not_an_image():
    """Round-3 advisory (high): prose containing the word 'BI' followed
    later by 'ID ' — e.g. '(the BI dashboard shows user ID 123) Tj' —
    was matched by the inline-image regex and the page's remainder was
    silently dropped.  The string-aware scan must extract the full text
    unchanged."""
    from ocr_spark.functions.pdfx import (
        _strip_inline_images, extract_pdf_blocks, write_pdf)

    blocks = [
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["the BI dashboard shows user ID 123 today",
                   "trailing line after the trap words here"]},
        {"kind": "text", "x": 72, "y": 300,
         "lines": ["a second block far below survives too"]},
    ]
    for compress in (False, True):
        got = [(b.kind, b.text) for b in extract_pdf_blocks(
            write_pdf(blocks, compress=compress))]
        texts = " ".join(t for _, t in got)
        assert "BI dashboard shows user ID 123" in texts, got
        assert "survives too" in texts, got

    # unit-level: literals, hex strings, and token boundaries
    s = "(a BI b ID c) Tj (x) Tj"
    assert _strip_inline_images(s) == s          # inside (...) literal
    s = "<42492049442058> Tj BT (ok) Tj ET"
    assert _strip_inline_images(s) == s          # inside <...> hex string
    s = "/ABI 5 BID 3"                           # BI mid-token, both sides
    assert _strip_inline_images(s) == s
    # a REAL inline image in operator position still strips
    s = "(pre) Tj BI /W 1 /H 1 /BPC 8 /CS /G ID \x00 EI (post) Tj"
    out = _strip_inline_images(s)
    assert "INLIMG" in out and "(pre)" in out and "(post)" in out
    assert "\x00" not in out


def test_form_xobject_extracts_identically():
    """/Subtype /Form XObjects invoked via `/Fm1 Do` (the letterhead/
    stamp/imposition layout): moving each page's real content into a
    form — with the form carrying its OWN /Resources for fonts — must
    not change a single extracted block vs the plain layout, across
    compression and Type0 combinations."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    p1 = [
        {"kind": "header", "x": 72, "y": 760, "lines": ["hdr alpha"]},
        {"kind": "text", "x": 72, "y": 300,
         "lines": ["page one low block words here ok"]},
        {"kind": "figure", "x": 100, "y": 500, "w": 200, "h": 100},
    ]
    p2 = [{"kind": "text", "x": 72, "y": 700,
           "lines": ["page two words", "second line content here"]}]
    for type0 in (False, True):
        for compress in (False, True):
            plain = write_pdf_pages([p1, p2], compress=compress, type0=type0)
            form = write_pdf_pages([p1, p2], compress=compress, type0=type0,
                                   form_xobject=True)
            assert b"/XObject << /Fm1" in form and b"/Subtype /Form" in form
            a = [(b.kind, b.text, b.page, b.bbox)
                 for b in extract_pdf_blocks(plain)]
            b2 = [(b.kind, b.text, b.page, b.bbox)
                  for b in extract_pdf_blocks(form)]
            assert a == b2, (type0, compress, a, b2)


def test_form_xobject_translation_places_content():
    """A form invoked with a nonzero `cm` translation (the stamp idiom
    `q 1 0 0 1 dx dy cm /Fm1 Do Q`) must shift the form's runs and
    figures by (dx, dy): a block authored at y=300 inside the form,
    stamped at dy=+9, places by its EFFECTIVE page position.  (The
    patch keeps the wrapper stream's byte length constant so /Length
    and the xref offsets stay valid.)"""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    page = [
        {"kind": "text", "x": 72, "y": 300,
         "lines": ["stamped block words here ok"]},
        {"kind": "figure", "x": 100, "y": 100, "w": 50, "h": 40},
    ]
    doc = write_pdf_pages([page], form_xobject=True)
    moved = doc.replace(b"q 1 0 0 1 0 0 cm /Fm1 Do Q",
                        b"q 1 0 0 1 5 9 cm /Fm1 Do Q")
    assert moved != doc and len(moved) == len(doc)
    base = {(b.kind, b.text): b.bbox for b in extract_pdf_blocks(doc)}
    got = {(b.kind, b.text): b.bbox for b in extract_pdf_blocks(moved)}
    assert set(got) == set(base)
    for k, (x0, y0, x1, y1) in base.items():
        gx0, gy0, gx1, gy1 = got[k]
        assert (round(gx0 - x0), round(gy0 - y0)) == (5, 9), (k, base[k], got[k])
        assert (round(gx1 - x1), round(gy1 - y1)) == (5, 9)


def test_quote_show_operators_advance_line():
    """' (next-line + show) and " (spacing + next-line + show) must each
    advance by the leading and emit the string — real producers use them
    for line-by-line text."""
    from ocr_spark.config import DEFAULT
    from ocr_spark.functions.pdfx import _parse_content

    content = ('BT /F1 12 Tf 14 TL 72 700 Td (first line here) Tj '
               '0.25 0.1 (second via quote) " (third) \' ET')
    runs, _ = _parse_content(content, [], [], DEFAULT)
    assert [(r.y, r.text) for r in runs] == [
        (700.0, "first line here"),
        (686.0, "second via quote"),
        (672.0, "third"),
    ]


def test_form_xobject_corpus_extracts_identically(spark):
    """Corpus-wide A/B for the form-XObject layout: moving every
    classic-layout PDF span's page content into a /Subtype /Form
    invoked via `/Fm1 Do` (half also flate-compressed) must not change
    a single extracted span vs the plain corpus."""
    from ocr_spark.sources.corpus import make_docs

    plain = make_docs(80, seed=27, mega_every=40, compress_every=2)
    formed = make_docs(80, seed=27, mega_every=40, compress_every=2,
                       form_every=1)
    n_changed = sum(
        1 for dp, dc in zip(plain, formed)
        for sp, sc in zip(dp["spans"], dc["spans"]) if sp["text"] != sc["text"]
    )
    assert n_changed > 0, "fixture rewrote nothing in the form layout"

    out = {}
    for tag, docs in (("plain", plain), ("formed", formed)):
        df = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
            SPAN_SCHEMA_DDL,
        ).repartition(5)
        rows = extract_stage(df).collect()
        out[tag] = _canonical([r.asDict(recursive=True) for r in rows])
    assert out["plain"] == out["formed"]


def test_html_media_tags_emit_refs():
    """video/audio/source emit media items (src, else first srcset
    candidate); bare containers add nothing; skip subtrees still
    suppress; fast scanner ≡ stdlib parser on media-rich fragments."""
    from ocr_spark.functions.htmlx import tokenize_html

    frag = (
        '<html><body>'
        '<p>some real content words here for the block to survive ok</p>'
        '<video src="vid://a.mp4"></video>'
        '<audio src="aud://b.ogg"/>'
        '<picture><source srcset="img://big.png 1280w, img://small.png 640w">'
        '<img src="img://fallback.png"/></picture>'
        '<video><source src="vid://c.webm"></video>'
        '<nav><video src="vid://skipme.mp4"></video></nav>'
        '</body></html>'
    )
    items = tokenize_html(frag)
    assert items == tokenize_html(frag, use_stdlib=True)
    media = [it.media_ref for it in items if it.kind == "media"]
    assert media == ["vid://a.mp4", "aud://b.ogg", "img://big.png",
                     "img://fallback.png", "vid://c.webm"]


def test_rotated_pages_extract_identically():
    """/Rotate 90/180/270 (declared once on the /Pages node —
    inheritable-attribute resolution) with content authored in rotated
    space: extraction must equal the unrotated twin block-for-block,
    bbox included — reading order and header/footer classification are
    display-space properties."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    p1 = [
        {"kind": "header", "x": 72, "y": 760, "lines": ["hdr alpha words"]},
        {"kind": "text", "x": 72, "y": 300,
         "lines": ["page one low block words here ok",
                   "second line content here"]},
        {"kind": "figure", "x": 100, "y": 500, "w": 200, "h": 100},
        {"kind": "footer", "x": 72, "y": 30, "lines": ["p. 1"]},
    ]
    p2 = [{"kind": "text", "x": 72, "y": 700,
           "lines": ["page two words", "more words here"]}]
    base = [(b.kind, b.text, b.page, b.bbox)
            for b in extract_pdf_blocks(write_pdf_pages([p1, p2]))]
    assert any(k == "boilerplate" for k, _, _, _ in base)
    for rot in (90, 180, 270):
        for compress in (False, True):
            doc = write_pdf_pages([p1, p2], compress=compress, rotate=rot)
            assert f"/Rotate {rot}".encode() in doc
            got = [(b.kind, b.text, b.page, b.bbox)
                   for b in extract_pdf_blocks(doc)]
            assert got == base, (rot, compress, got)


def test_two_column_reading_order():
    """A two-column page must read the WHOLE left column before the
    right column — without gutter detection the per-y line grouping
    interleaves the columns' text word-by-word.  The full-width title
    sits in the header band (excluded from detection, assigned col 0)
    so it still precedes both columns."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    left = {"kind": "text", "x": 72, "y": 700,
            "lines": [f"left col line {i} words here" for i in range(5)]}
    right = {"kind": "text", "x": 330, "y": 700,
             "lines": [f"right col line {i} more text" for i in range(5)]}
    title = {"kind": "header", "x": 180, "y": 765,
             "lines": ["centered full width title"]}
    doc = write_pdf([title, left, right])
    got = [(b.kind, b.text) for b in extract_pdf_blocks(doc)]
    assert got == [
        ("boilerplate", "centered full width title"),
        ("text-block", "\n".join(left["lines"])),
        ("text-block", "\n".join(right["lines"])),
    ], got
    # the same layout rotated (content authored sideways, /Rotate set):
    # columns are a display-space property, so detection still splits
    for rot in (90, 180, 270):
        rdoc = write_pdf([title, left, right], rotate=rot)
        assert [(b.kind, b.text) for b in extract_pdf_blocks(rdoc)] == got, rot


def test_full_width_body_run_suppresses_column_split():
    """A body line spanning the gutter (single-column prose with a wide
    ragged-right block) must keep the page single-column — its interval
    covers any candidate gap, so detection conservatively declines."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    wide = {"kind": "text", "x": 72, "y": 700,
            "lines": ["this is one long single column prose line that runs"
                      " all the way across the page body" for _ in range(4)]}
    narrow = {"kind": "text", "x": 72, "y": 500,
              "lines": ["short line", "another short", "third short one"]}
    doc = write_pdf([wide, narrow])
    blocks = [b for b in extract_pdf_blocks(doc)]
    assert all(b.col == 0 for b in blocks), [(b.kind, b.col) for b in blocks]


def test_html_table_linearized_and_classified():
    """A data table survives as ONE linearized content item (cells
    joined ' | ', rows ' ; ', caption first) instead of shredding into
    sub-min-words cell blocks; a link-farm layout table fails the
    link-ratio gate AS A UNIT; a nested table folds into its enclosing
    cell.  Both parser paths must agree item-for-item."""
    from ocr_spark.functions.htmlx import tokenize_html

    frag = (
        "<html><body>"
        "<p>intro paragraph with enough words to clearly survive here</p>"
        "<table><caption>quarterly numbers</caption>"
        "<tr><td>alpha</td><td>10</td><td>20</td></tr>"
        "<tr><td>bravo</td><td>30</td><td>40</td></tr></table>"
        "<table><tr>"
        '<td><a href="/a">one</a></td><td><a href="/b">two</a></td>'
        '<td><a href="/c">three</a></td></tr><tr>'
        '<td><a href="/d">four</a></td><td><a href="/e">five</a></td>'
        '<td><a href="/f">six</a></td></tr></table>'
        "<table><tr><td>outer cell before "
        "<table><tr><td>inner x</td><td>inner y</td></tr></table>"
        " after</td><td>second outer with words</td></tr>"
        "<tr><td>third outer cell text</td><td>fourth outer cell text</td></tr>"
        "</table>"
        "</body></html>"
    )
    items = tokenize_html(frag)
    assert items == tokenize_html(frag, use_stdlib=True)
    tables = [it for it in items if it.tag == "table"]
    assert len(tables) == 3, [(t.tag, t.text) for t in items]
    data, linkfarm, nested = tables
    assert data.text == "quarterly numbers ; alpha | 10 | 20 ; bravo | 30 | 40"
    assert data.label == "content" and data.words == 8
    assert linkfarm.label == "boilerplate" and linkfarm.link_ratio == 1.0
    assert nested.label == "content"
    assert "inner x | inner y" in nested.text          # folded into cell
    assert nested.text.startswith("outer cell before")
    assert nested.text.index("after") < nested.text.index("second outer")
    # table order = open position: intro paragraph precedes all tables
    kinds = [(it.tag or it.kind) for it in items if it.label != "boilerplate"]
    assert kinds.index("p") < kinds.index("table")


def test_html_table_block_tags_bind_to_cell():
    """Block tags inside a cell (the <td><p>..</p></td> producer idiom)
    must not open separate blocks — their text stays in the cell."""
    from ocr_spark.functions.htmlx import tokenize_html

    frag = ("<table><tr><td><p>first para words</p><p>second para here</p>"
            "</td><td>plain cell text words</td></tr></table>")
    items = tokenize_html(frag)
    assert items == tokenize_html(frag, use_stdlib=True)
    assert [it.tag for it in items] == ["table"]
    assert items[0].text == (
        "first para words second para here | plain cell text words")
    assert items[0].words == 10 and items[0].label == "content"


def test_html_table_corpus_extracts_identically(spark):
    """Corpus with html_table_every=2: fast path == stdlib per fragment,
    Spark pipeline == straight-line extract_doc oracle per document, and
    the table items actually appear (non-vacuous)."""
    from ocr_spark.functions.htmlx import tokenize_html
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    docs = make_docs(80, seed=7, mega_every=40, html_table_every=2)
    frags = [s["text"] for d in docs for s in d["spans"]
             if s["kind"] == "html"]
    assert any("<table>" in f for f in frags), "knob produced no tables"
    for f in frags:
        assert tokenize_html(f, DEFAULT) == tokenize_html(
            f, DEFAULT, use_stdlib=True)

    want = {}
    for d in docs:
        spans = extract_doc(d["doc_id"], d["spans"], DEFAULT)
        want[d["doc_id"]] = [
            [s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans
        ]
    sdf = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
         for d in docs], SPAN_SCHEMA_DDL).repartition(9)
    rows = extract_stage(sdf).collect()
    got = _canonical([r.asDict(recursive=True) for r in rows])
    assert got == want
    linearized = [s for spans in got.values() for s in spans
                  if s[1] and " ; " in s[1] and " | " in s[1]]
    assert linearized, "no linearized table spans reached the output"


def test_pdf_link_annotations_emit_media_spans():
    """/Annots /Subtype /Link URI actions become 'link' blocks placed by
    their /Rect, interleaved into reading order; downstream they emit
    media spans whose media_ref is the URI (escaped parens round-trip)."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["first paragraph of body text", "second line of it"]},
        {"kind": "link", "x": 72, "y": 640, "w": 180, "h": 12,
         "uri": "https://example.org/a(1)"},
        {"kind": "text", "x": 72, "y": 560,
         "lines": ["closing paragraph after the link", "with another line"]},
        {"kind": "link", "x": 72, "y": 500, "w": 120, "h": 12,
         "uri": "https://example.org/b"},
    ]
    doc = write_pdf(blocks)
    got = [(b.kind, b.uri or b.text) for b in extract_pdf_blocks(doc)]
    assert got == [
        ("text-block", "first paragraph of body text\nsecond line of it"),
        ("link", "https://example.org/a(1)"),
        ("text-block", "closing paragraph after the link\nwith another line"),
        ("link", "https://example.org/b"),
    ], got

    spans = extract_doc("d1", [
        {"kind": "pdf_bytes", "text": doc.decode("latin-1"),
         "media_ref": None, "offset": 10},
    ], DEFAULT)
    media = [(s["kind"], s["media_ref"]) for s in spans
             if s["kind"] == "media"]
    assert media == [("media", "https://example.org/a(1)"),
                     ("media", "https://example.org/b")]


def test_pdf_links_multipage_and_rotated():
    """Links stay with their page (no cross-page interleave) and their
    rects remap into display space under /Rotate like figures do."""
    from ocr_spark.functions.pdfx import (
        extract_pdf_blocks, write_pdf, write_pdf_pages)

    p1 = [{"kind": "text", "x": 72, "y": 700,
           "lines": ["page one body text here", "and a second line"]},
          {"kind": "link", "x": 72, "y": 650, "w": 90, "h": 12,
           "uri": "https://one.example/"}]
    p2 = [{"kind": "link", "x": 72, "y": 720, "w": 90, "h": 12,
           "uri": "https://two.example/"},
          {"kind": "text", "x": 72, "y": 680,
           "lines": ["page two body text here", "and its second line"]}]
    doc = write_pdf_pages([p1, p2])
    got = [(b.page, b.kind, b.uri or b.text.split("\n")[0])
           for b in extract_pdf_blocks(doc)]
    assert got == [
        (0, "text-block", "page one body text here"),
        (0, "link", "https://one.example/"),
        (1, "link", "https://two.example/"),
        (1, "text-block", "page two body text here"),
    ], got

    plain = [(b.kind, b.uri or b.text) for b in extract_pdf_blocks(
        write_pdf(p1))]
    for rot in (90, 180, 270):
        rotated = [(b.kind, b.uri or b.text) for b in extract_pdf_blocks(
            write_pdf(p1, rotate=rot))]
        assert rotated == plain, rot


def test_pdf_links_absent_on_positional_fallback():
    """A raw content fragment (no xref) has no page dicts: text still
    extracts via the positional scan, links are out of scope there."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    doc = write_pdf([
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["fallback body text lines", "second body line here"]},
        {"kind": "link", "x": 72, "y": 650, "w": 90, "h": 12,
         "uri": "https://gone.example/"},
    ])
    broken = doc.replace(b"startxref", b"startxrof")
    kinds = [b.kind for b in extract_pdf_blocks(broken)]
    assert "link" not in kinds and "text-block" in kinds


def test_pdf_link_corpus_extracts_identically(spark):
    """Corpus with pdf_link_every=2: Spark pipeline == straight-line
    extract_doc oracle per document, and link media spans actually
    appear (non-vacuous)."""
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    docs = make_docs(80, seed=13, mega_every=40, pdf_link_every=2)
    want = {}
    for d in docs:
        spans = extract_doc(d["doc_id"], d["spans"], DEFAULT)
        want[d["doc_id"]] = [
            [s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans
        ]
    sdf = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
         for d in docs], SPAN_SCHEMA_DDL).repartition(9)
    rows = extract_stage(sdf).collect()
    got = _canonical([r.asDict(recursive=True) for r in rows])
    assert got == want
    uris = [s[2] for spans in got.values() for s in spans
            if s[2] and s[2].startswith("https://ref.example/")]
    assert uris, "knob produced no link spans"


def test_simple_font_differences_decode():
    """A simple font's /Encoding /Differences remaps byte codes through
    AGL glyph names (+ /uniXXXX): bytes 0x80/0xE9/0xA4 in the show
    string come out as the mapped €/é/Ω; unmapped bytes stay literal."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [{"kind": "text", "x": 72, "y": 700,
               "lines": ["price \x80 42 caf\xe9 symbol \xa4 here",
                         "plain ascii second line text"]}]
    doc = write_pdf(blocks, encoding_diffs={
        0x80: "Euro", 0xE9: "eacute", 0xA4: "uni03A9"})
    texts = [b.text for b in extract_pdf_blocks(doc)
             if b.kind == "text-block"]
    assert texts == ["price € 42 café symbol Ω here\n"
                     "plain ascii second line text"], texts

    # A/B: the same document WITHOUT the Differences keeps byte literals
    plain = write_pdf(blocks)
    t2 = [b.text for b in extract_pdf_blocks(plain) if b.kind == "text-block"]
    assert t2 == ["price \x80 42 caf\xe9 symbol \xa4 here\n"
                  "plain ascii second line text"], t2


def test_font_differences_indirect_encoding_and_unknown_names():
    """Unknown glyph names in /Differences keep their codes literal;
    consecutive names consume consecutive codes after a start number."""
    from ocr_spark.functions.pdfx import _Doc, write_pdf

    doc = write_pdf(
        [{"kind": "text", "x": 72, "y": 700,
          "lines": ["abc \x81\x82\x83 xyz", "second line body text"]}],
        encoding_diffs={0x81: "adieresis", 0x82: "nosuchglyph",
                        0x83: "odieresis"})
    # the parsed encoding has exactly the two resolvable codes
    pages = _Doc(doc).page_contents()
    fonts = pages[0][1]
    assert fonts["F1"][0] == "enc"
    assert fonts["F1"][1] == {0x81: "ä", 0x83: "ö"}

    from ocr_spark.functions.pdfx import extract_pdf_blocks
    texts = [b.text for b in extract_pdf_blocks(doc)
             if b.kind == "text-block"]
    assert texts == ["abc ä\x82ö xyz\nsecond line body text"], texts


def test_pdf_invisible_ocr_layer():
    """The scanned-PDF OCR idiom — recognized text painted in rendering
    mode 3 (invisible) over a full-page image.  Default config keeps the
    invisible layer (it IS the content for an OCR corpus);
    keep_invisible_text=False drops it (hidden-text spam defense).  Tr
    is text state: it persists across BT..ET until reset."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [
        {"kind": "figure", "x": 0, "y": 0, "w": 612, "h": 792},
        {"kind": "text", "x": 72, "y": 700, "invisible": True,
         "lines": ["recognized ocr line one", "recognized ocr line two"]},
        {"kind": "text", "x": 72, "y": 600,
         "lines": ["visible caption text line", "second visible line"]},
    ]
    doc = write_pdf(blocks)
    keep = [(b.kind, b.text) for b in extract_pdf_blocks(doc)]
    assert ("text-block",
            "recognized ocr line one\nrecognized ocr line two") in keep
    assert ("text-block",
            "visible caption text line\nsecond visible line") in keep
    assert any(k == "figure" for k, _ in keep)

    drop = [(b.kind, b.text) for b in extract_pdf_blocks(
        doc, ExtractConfig(keep_invisible_text=False))]
    assert all("recognized ocr" not in t for _, t in drop)
    assert ("text-block",
            "visible caption text line\nsecond visible line") in drop

    # Tr persists across BT..ET: a second text object after `3 Tr`
    # (no reset) is still invisible under keep=False
    raw = doc.replace(b"0 Tr\n", b"")  # drop the writer's reset
    drop2 = [b.text for b in extract_pdf_blocks(
        raw, ExtractConfig(keep_invisible_text=False))
        if b.kind == "text-block"]
    assert drop2 == [], drop2


def test_pdf_encrypted_emits_nothing():
    """/Encrypt in the trailer → ciphertext strings/streams: extraction
    must emit ZERO blocks (never scrambled bytes as phantom text), even
    when the xref is ALSO corrupt and the positional fallback would
    otherwise scan the scrambled stream bodies."""
    from ocr_spark.functions.pdfx import (extract_pdf_blocks, tokenize_pdf,
                                          write_pdf, write_pdf_encrypted)

    blocks = [{"kind": "text", "x": 72, "y": 700,
               "lines": ["secret body text lines", "second secret line"]}]
    # plaintext twin extracts (non-vacuous)
    assert any(b.kind == "text-block"
               for b in extract_pdf_blocks(write_pdf(blocks)))
    enc = write_pdf_encrypted(blocks)
    assert extract_pdf_blocks(enc) == []
    assert tokenize_pdf(enc) == ([], [], [], [], [])
    # compressed variant
    assert extract_pdf_blocks(write_pdf_encrypted(blocks, compress=True)) == []
    # corrupt xref: structured parse fails, but the trailer /Encrypt
    # scan still preempts the positional fallback
    assert extract_pdf_blocks(enc.replace(b"startxref", b"startxrof")) == []


def test_pdf_form_field_values_extract():
    """Filled AcroForm text fields (/Widget + /FT /Tx + /V) render as
    `name: value` text at their /Rect, interleaved into reading order;
    rotated authoring round-trips to the same spans."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["application form body text", "please fill all fields"]},
        {"kind": "field", "x": 72, "y": 600, "name": "Name",
         "value": "Ada Lovelace"},
        {"kind": "field", "x": 72, "y": 560, "value": "unlabeled entry"},
    ]
    want = [("text-block",
             "application form body text\nplease fill all fields"),
            ("text-block", "Name: Ada Lovelace"),
            ("text-block", "unlabeled entry")]
    got = [(b.kind, b.text) for b in extract_pdf_blocks(write_pdf(blocks))]
    assert got == want, got
    for rot in (90, 180, 270):
        rgot = [(b.kind, b.text)
                for b in extract_pdf_blocks(write_pdf(blocks, rotate=rot))]
        assert rgot == want, (rot, rgot)
    # unfilled (/V absent) widgets are skipped: rename the unlabeled
    # field's /V key in place (same byte length — xref offsets intact)
    doc = write_pdf(blocks).replace(b"/V (unlabeled entry)",
                                    b"/W (unlabeled entry)")
    got2 = [(b.kind, b.text) for b in extract_pdf_blocks(doc)]
    assert got2 == want[:2], got2


def test_ocr_field_encrypted_corpus_extracts_identically(spark):
    """Corpus-wide A/B with the three round-3 PDF knobs live at once
    (ocr_layer_every=2, field_every=3, encrypted_every=5): the Spark
    pipeline matches the straight-line extract_doc oracle per document,
    and each knob actually fired (non-vacuous)."""
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    docs = make_docs(80, seed=31, mega_every=40, ocr_layer_every=2,
                     field_every=3, encrypted_every=5)
    payloads = [s["text"] for d in docs for s in d["spans"]
                if s["kind"] == "pdf_bytes"]
    assert any("3 Tr" in p for p in payloads), "ocr knob never fired"
    assert any("/Widget" in p for p in payloads), "field knob never fired"
    assert any("/Encrypt" in p for p in payloads), "encrypted knob never fired"

    want = {}
    for d in docs:
        spans = extract_doc(d["doc_id"], d["spans"], DEFAULT)
        want[d["doc_id"]] = [
            [s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans
        ]
    sdf = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
         for d in docs], SPAN_SCHEMA_DDL).repartition(9)
    rows = extract_stage(sdf).collect()
    got = _canonical([r.asDict(recursive=True) for r in rows])
    assert got == want


def test_pdf_inherited_resources_and_hybrid_xref():
    """Two real-producer structure layouts resolve identically to the
    baseline: (a) /Resources declared once on the /Pages node and
    inherited by every page (PDF 32000 §7.8.3); (b) the hybrid-reference
    file — startxref → classic table that marks ObjStm-packed objects
    FREE, trailer /XRefStm → companion xref stream holding their real
    entries (§7.5.8.4).  Type0 text makes both non-vacuous: fonts
    resolve only if the structure parse found the resource table."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    pages = [
        [{"kind": "text", "x": 72, "y": 700,
          "lines": ["première page café body", "second line of body text"]}],
        [{"kind": "text", "x": 72, "y": 700,
          "lines": ["deuxième page naïve body", "more body text here now"]}],
    ]
    base = [(b.kind, b.text)
            for b in extract_pdf_blocks(write_pdf_pages(pages, type0=True))]
    assert any("café" in t for _, t in base), base  # CMap decode live

    inh = write_pdf_pages(pages, type0=True, inherit_fonts=True)
    assert b"/Resources" not in inh.split(b"/Type /Page ")[1].split(b">>")[0]
    assert [(b.kind, b.text) for b in extract_pdf_blocks(inh)] == base

    hyb = write_pdf_pages(pages, type0=True, xref_stream=True, hybrid=True)
    assert b"/XRefStm" in hyb and b"trailer" in hyb
    assert [(b.kind, b.text) for b in extract_pdf_blocks(hyb)] == base
    # the classic table alone cannot resolve the packed catalog — the
    # reader must have used /XRefStm; breaking that key must break text
    # extraction (falls back to positional scan, CIDs stay byte-literal)
    broken = hyb.replace(b"/XRefStm", b"/XRefStX")
    fb = [(b.kind, b.text) for b in extract_pdf_blocks(broken)]
    assert fb != base


def test_pdf_corruption_never_raises():
    """100 TB honesty gate: truncated / bit-flipped / metadata-corrupt
    PDF payloads must NEVER raise — they degrade to partial or empty
    extraction (structured parse → positional fallback → nothing).
    Covers every writer layout at once, plus xref tables whose
    subsection headers claim absurd entry counts (must not hang)."""
    import random

    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    docs = make_docs(30, seed=5, mega_every=20, compress_every=2,
                     xref_every=3, type0_every=5, form_every=7,
                     pdf_link_every=2, ocr_layer_every=3, field_every=4,
                     encrypted_every=9)
    payloads = [s["text"].encode("latin-1") for d in docs
                for s in d["spans"] if s["kind"] == "pdf_bytes"]
    assert payloads
    rng = random.Random(7)
    for p in payloads:
        for cut in (1, len(p) // 4, len(p) // 2, 3 * len(p) // 4,
                    len(p) - 3):
            extract_pdf_blocks(p[:cut])  # must not raise
        for _ in range(3):
            b = bytearray(p)
            for _ in range(5):
                b[rng.randrange(len(b))] = rng.randrange(256)
            extract_pdf_blocks(bytes(b))  # must not raise

    # classic xref claiming 2^31 entries: capped by remaining bytes,
    # parses (or falls back) in bounded time instead of hanging
    doc = write_pdf([{"kind": "text", "x": 72, "y": 700,
                      "lines": ["bounded parse body text", "second line"]}])
    n_objs = doc.count(b" 0 obj")
    bad = doc.replace(f"xref\n0 {n_objs + 1}\n".encode(),
                      b"xref\n0 2147483647\n")
    assert bad != doc
    extract_pdf_blocks(bad)  # must return promptly, not iterate 2^31


def test_lazy_load_images_both_parsers():
    """data-src / data-srcset lazy-loading images resolve to the same
    media_ref in the regex fast path AND the stdlib parser (a plain
    src= must never match inside data-src=), with src winning when both
    are present."""
    from ocr_spark.functions.htmlx import tokenize_html

    frag = (
        "<html><body><div>"
        "<p>eleven words of body text to keep the block alive okay</p>"
        '<img data-src="https://cdn.example/lazy.png"/>'
        '<img src="https://cdn.example/eager.png" data-src="https://cdn.example/no.png"/>'
        '<img data-srcset="https://cdn.example/lazyset.png 640w, x 1x"/>'
        "</div></body></html>"
    )
    for stdlib in (False, True):
        items = tokenize_html(frag, DEFAULT, use_stdlib=stdlib)
        refs = [i.media_ref for i in items if i.kind == "media"]
        assert refs == ["https://cdn.example/lazy.png",
                        "https://cdn.example/eager.png",
                        "https://cdn.example/lazyset.png"], (stdlib, refs)


def test_dehyphenation_config():
    """cfg.dehyphenate joins line-break hyphenations whose continuation
    starts lowercase; capitals (real compounds) and the default config
    keep the raw line text."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.functions.pdfx import write_pdf

    doc = write_pdf([{
        "kind": "text", "x": 72, "y": 700,
        "lines": ["this line ends with exam-", "ple and then con-",
                  "tinues before an X-", "Ray compound stays split"],
    }]).decode("latin-1")
    spans = [{"kind": "pdf_bytes", "text": doc, "media_ref": None,
              "offset": 0}]
    raw = extract_doc("d", spans, DEFAULT)[0]["text"]
    assert "exam-\nple" in raw and "X-\nRay" in raw
    fixed = extract_doc("d", spans, ExtractConfig(dehyphenate=True))[0]["text"]
    assert "example and then continues" in fixed.replace("\n", " ")
    assert "X-\nRay" in fixed  # capital continuation: kept


def test_html_corruption_never_raises():
    """HTML twin of the PDF corruption gate: truncated / bit-flipped
    fragments must never raise in EITHER parser path (regex fast path
    and stdlib html.parser) — malformed markup degrades to partial
    extraction.  (A/B equality is only promised on well-formed markup;
    here the contract is graceful degradation.)"""
    import random

    from ocr_spark.functions.htmlx import tokenize_html

    frags = [s["text"] for d in make_docs(40, seed=3, mega_every=30,
                                          html_table_every=2)
             for s in d["spans"] if s["kind"] == "html"]
    assert frags
    rng = random.Random(11)
    for f in frags:
        for cut in (1, len(f) // 3, 2 * len(f) // 3, len(f) - 2):
            for stdlib in (False, True):
                tokenize_html(f[:cut], DEFAULT, use_stdlib=stdlib)
        for _ in range(2):
            b = list(f)
            for _ in range(6):
                b[rng.randrange(len(b))] = chr(rng.randrange(32, 127))
            m = "".join(b)
            for stdlib in (False, True):
                tokenize_html(m, DEFAULT, use_stdlib=stdlib)


def test_pdf_outline_bookmarks_lead_document():
    """/Outlines bookmark titles (nested /First-/Next chains, UTF-16BE
    titles decoded) extract as ONE 'toc' block that leads the document;
    documents without outlines are unchanged; a cyclic /Next chain
    terminates (seen-set bound)."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    pages = [
        [{"kind": "text", "x": 72, "y": 700,
          "lines": ["chapter one body text here", "second body line here"]}],
        [{"kind": "text", "x": 72, "y": 700,
          "lines": ["chapter two body text here", "another body line now"]}],
    ]
    titles = ["Chapter 1 — Début", "Chapter 2", "Appendix A"]
    doc = write_pdf_pages(pages, outlines=titles)
    bs = extract_pdf_blocks(doc)
    assert bs[0].kind == "toc" and bs[0].page == -1
    assert bs[0].text == "\n".join(titles)
    assert [b.kind for b in bs[1:]] == ["text-block", "text-block"]

    plain = extract_pdf_blocks(write_pdf_pages(pages))
    assert all(b.kind != "toc" for b in plain)

    # cycle bound: repoint item 2's /Next back at item 1 (same byte
    # length — object numbers differ in the last digit only), making
    # the sibling chain 1 → 2 → 1 → …; the seen-set must terminate the
    # walk after the two reachable titles, never hanging or raising
    from ocr_spark.functions.pdfx import _Doc
    base = _Doc(doc)
    assert base.outline_titles() == titles
    import re as _re
    nexts = _re.findall(rb"/Next (\d+) 0 R", doc)
    assert len(nexts) == 2
    # pad the replacement number with spaces to the same byte length
    # (PDF is whitespace-insensitive; xref offsets must not shift)
    repl = nexts[0] + b" " * (len(nexts[1]) - len(nexts[0]))
    cyc = doc.replace(b"/Next " + nexts[1] + b" 0 R",
                      b"/Next " + repl + b" 0 R")
    assert cyc != doc
    got = _Doc(cyc).outline_titles()
    assert got == titles[:2], got


def test_pdf_outline_corpus_extracts_identically(spark):
    """Corpus with outline_every=2: Spark pipeline == straight-line
    extract_doc oracle per document, and leading toc spans with
    UTF-16BE (non-latin-1) titles actually appear (non-vacuous)."""
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    docs = make_docs(60, seed=17, mega_every=30, outline_every=2)
    want = {}
    for d in docs:
        spans = extract_doc(d["doc_id"], d["spans"], DEFAULT)
        want[d["doc_id"]] = [
            [s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans
        ]
    sdf = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
         for d in docs], SPAN_SCHEMA_DDL).repartition(9)
    rows = extract_stage(sdf).collect()
    got = _canonical([r.asDict(recursive=True) for r in rows])
    assert got == want
    tocs = [s[1] for spans in got.values() for s in spans
            if s[1] and "— §" in s[1]]
    assert tocs, "knob produced no toc spans"


def test_review_regressions_tr_encrypt_form():
    """Round-3 review regressions: (1) a corrupt `(a) Tr` operand must
    degrade, not raise; (2) an xref-STREAM-layout /Encrypt doc with a
    corrupt startxref must still emit nothing (that layout has no
    classic `trailer` keyword for the fallback scan); (3) `3 Tr` set in
    the page stream is inherited by an invoked form XObject — forms
    snapshot the caller's graphics state — so hidden-spam defense
    (keep_invisible_text=False) drops the form's text too."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    # (1) string operand to Tr inside a raw fragment (positional path)
    frag = (b"<< /Length 60 >>\nstream\n"
            b"BT /F1 12 Tf (a) Tr 1 0 0 1 72 700 Tm (still works) Tj ET\n"
            b"endstream")
    texts = [b.text for b in extract_pdf_blocks(frag)]
    assert any("still works" in t for t in texts), texts

    # (2) /Encrypt inserted into the xref STREAM dict + corrupt startxref
    doc = write_pdf_pages([[{"kind": "text", "x": 72, "y": 700,
                             "lines": ["secret xref stream body",
                                       "second secret line here"]}]],
                          xref_stream=True)
    enc = doc.replace(b"/Type /XRef", b"/Type /XRef /Encrypt 99 0 R", 1)
    assert extract_pdf_blocks(enc) == []          # intact structure path
    broken = enc.replace(b"startxref", b"startxrof")
    assert extract_pdf_blocks(broken) == []       # fallback-preempt path

    # (3) page stream sets 3 Tr then invokes the form
    pages = [[{"kind": "text", "x": 72, "y": 700,
               "lines": ["spam keywords hidden line", "second hidden line"]}]]
    formdoc = write_pdf_pages(pages, form_xobject=True)
    # make the WRAPPER set 3 Tr before /Fm1 Do (form content unchanged)
    patched = formdoc.replace(b"q 1 0 0 1 0 0 cm /Fm1 Do Q",
                              b"q 3 Tr 1 0 0 1 cm /Fm1 Do Q")  # same len
    assert patched != formdoc
    keep = [b.text for b in extract_pdf_blocks(patched)]
    assert any("spam keywords" in t for t in keep)  # default: OCR layer kept
    drop = [b.text for b in extract_pdf_blocks(
        patched, ExtractConfig(keep_invisible_text=False))]
    assert all("spam keywords" not in t for t in drop), drop


def test_review_regressions_operands_inline_ei_xref_width():
    """Second review batch: (1) a corrupt string operand to ANY numeric
    content operator (cm/re/Td/Tm/Tf/TL) degrades instead of raising;
    (2) an inline image whose BINARY payload contains ' EI ' by chance
    is stripped to its declared length, leaking no phantom operators;
    (3) the xref-stream writer handles documents past 64 KiB (4-byte
    offset field)."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    # (1) strings where numbers belong, for every numeric operator
    frag = (b"<< /Length 120 >>\nstream\n"
            b"(abc) 1 2 3 4 5 cm (s) 2 re (q) Tf (w) TL "
            b"BT /F1 12 Tf (z) (z) Td (a) (b) (c) (d) (e) (f) Tm "
            b"1 0 0 1 72 700 Tm (survives all) Tj ET\nendstream")
    texts = [b.text for b in extract_pdf_blocks(frag)]
    assert any("survives all" in t for t in texts), texts

    # (2) payload exactly /W*/H*/BPC/8 bytes long CONTAINING ' EI '
    payload = b"ab EI cdefghijklmnop"[:16]  # 16 = 4*4*8/8, ' EI ' inside
    frag2 = (b"<< /Length 200 >>\nstream\n"
             b"q 100 0 0 80 50 60 cm BI /W 4 /H 4 /BPC 8 /CS /G ID\n"
             + payload +
             b"\nEI Q\nBT /F1 12 Tf 1 0 0 1 72 700 Tm (after image) Tj ET"
             b"\nendstream")
    bs = extract_pdf_blocks(frag2)
    kinds = [(b.kind, b.text) for b in bs]
    assert ("figure", "") in kinds, kinds
    assert any("after image" in t for _, t in kinds), kinds
    # the ' EI cdef...' remainder never tokenized as phantom content
    assert all("cdef" not in (t or "") for _, t in kinds), kinds

    # (3) >64 KiB document in the PDF 1.5+ layout
    pages = [[{"kind": "text", "x": 72, "y": 700,
               "lines": [f"line {i} " + "word " * 60 for i in range(5)]}]
             for _ in range(40)]
    big = write_pdf_pages(pages, xref_stream=True)
    assert len(big) > 65536
    bs2 = extract_pdf_blocks(big)
    assert sum(1 for b in bs2 if b.kind == "text-block") >= 40


def test_pdf_rc4_decrypt_roundtrip():
    """REAL RC4 encryption (PDF 32000 §7.6.3 standard security handler,
    empty user password) round-trips: the fixture encryptor re-encrypts
    every stream body and dict literal string under per-object keys
    (V=1/R=2 40-bit and V=2/R=3 128-bit), and extraction of the
    encrypted document equals extraction of the plaintext one —
    including flate-compressed streams, /Outlines UTF-16BE titles, and
    filled AcroForm field strings (the three string/stream read paths).
    A non-empty user password must fail /U verification and emit
    NOTHING (never ciphertext garbage)."""
    from ocr_spark.functions.pdfcrypt import encrypt_pdf_rc4
    from ocr_spark.functions.pdfx import (
        extract_pdf_blocks, write_pdf, write_pdf_pages)

    blocks = [
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["form page body text", "second body line words"]},
        {"kind": "field", "x": 72, "y": 600, "name": "Name",
         "value": "Ada Lovelace"},
    ]
    for compress in (False, True):
        plain = write_pdf(blocks, compress=compress)
        ref = [(b.kind, b.text) for b in extract_pdf_blocks(plain)]
        assert any("Ada Lovelace" in t for _, t in ref)
        for r, kb in ((2, 40), (3, 128)):
            enc = encrypt_pdf_rc4(plain, r=r, keybits=kb)
            assert enc != plain
            got = [(b.kind, b.text) for b in extract_pdf_blocks(enc)]
            assert got == ref, (compress, r, kb)
        locked = encrypt_pdf_rc4(plain, user_pw=b"secret")
        assert extract_pdf_blocks(locked) == []

    # outline titles are dict strings on their own objects — the
    # per-object key must be the OUTLINE item's, not the page's
    pages = [[{"kind": "text", "x": 72, "y": 700,
               "lines": ["chapter one body text here",
                         "second body line here"]}]]
    titles = ["Chapter 1 — Début", "Appendix A"]
    plain = write_pdf_pages(pages, outlines=titles)
    ref = [(b.kind, b.text) for b in extract_pdf_blocks(plain)]
    assert ref[0][0] == "toc" and "Début" in ref[0][1]
    got = [(b.kind, b.text)
           for b in extract_pdf_blocks(encrypt_pdf_rc4(plain))]
    assert got == ref


def test_pdf_rc4_tampered_u_entry_is_skipped():
    """A corrupted /U entry must fail key verification — the document
    then takes the emit-nothing encrypted path instead of decrypting
    with a wrong key (which would emit garbage text)."""
    from ocr_spark.functions.pdfcrypt import encrypt_pdf_rc4
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [{"kind": "text", "x": 72, "y": 700,
               "lines": ["tamper test body text", "line two of the body"]}]
    enc = bytearray(encrypt_pdf_rc4(write_pdf(blocks)))
    i = enc.find(b"/U <")
    assert i > 0
    enc[i + 4:i + 8] = b"0000" if enc[i + 4:i + 8] != b"0000" else b"1111"
    assert extract_pdf_blocks(bytes(enc)) == []


def test_rc4_corpus_twin_extracts_identically():
    """``rc4_every`` writes REALLY-encrypted PDF payloads (standard
    security handler, empty user password); the extractor must DECRYPT
    them so the corpus extracts span-for-span identically to the
    rc4-off twin — unlike ``encrypted_every`` (unknown key), which must
    yield zero spans."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks
    from ocr_spark.sources.corpus import make_docs

    plain = make_docs(40, seed=7)
    enc = make_docs(40, seed=7, rc4_every=3)
    n_enc = 0
    for dp, de in zip(plain, enc):
        for sp, se in zip(dp["spans"], de["spans"]):
            if sp["kind"] != "pdf_bytes":
                assert sp == se
                continue
            if sp["text"] == se["text"]:
                continue
            n_enc += 1
            assert b"/Encrypt" in se["text"].encode("latin-1")
            bp = [(b.kind, b.text)
                  for b in extract_pdf_blocks(sp["text"].encode("latin-1"))]
            be = [(b.kind, b.text)
                  for b in extract_pdf_blocks(se["text"].encode("latin-1"))]
            assert bp == be, dp["doc_id"]
    assert n_enc > 0, "rc4 knob never fired"


def test_aes_fips197_known_answers():
    """The from-scratch AES (functions/aes.py) pinned against the
    FIPS-197 Appendix C example vectors for all three key sizes, both
    directions, plus CBC chaining + PKCS#7 round-trip on a non-aligned
    payload."""
    from ocr_spark.functions.aes import (
        _decrypt_block, _encrypt_block, _expand_key, cbc_decrypt,
        cbc_encrypt)

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for keyhex, cthex in (
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ):
        rk = _expand_key(bytes.fromhex(keyhex))
        ct = bytes.fromhex(cthex)
        assert _encrypt_block(rk, pt) == ct, keyhex
        assert _decrypt_block(rk, ct) == pt, keyhex

    key, iv = bytes(range(16)), bytes(range(16, 32))
    msg = b"seventeen bytes!!"  # forces a full PKCS#7 pad block split
    enc = cbc_encrypt(key, msg, iv=iv)
    assert len(enc) % 16 == 0 and enc != msg
    assert cbc_decrypt(key, enc, iv=iv) == msg
    # wrong key must yield garbage, not raise (extract-batch contract)
    assert cbc_decrypt(bytes(16), enc, iv=iv) != msg


def test_pdf_aes_decrypt_roundtrip():
    """REAL AES encryption round-trips at every spec generation: V=4
    /AESV2 (AES-128-CBC, sAlT-ed per-object keys, §7.6.5), V=4 /CFM /V2
    (RC4 inside the crypt-filter container), and V=5 R=6 /AESV3
    (PDF 2.0 AES-256 with the Algorithm 2.B SHA-2 KDF) — extraction of
    each encrypted document equals extraction of the plaintext one
    across streams, outline dict strings, and form field values.  A
    non-empty user password fails /U (or 2.A) verification and emits
    NOTHING."""
    from ocr_spark.functions.pdfcrypt import encrypt_pdf_aes
    from ocr_spark.functions.pdfx import (
        extract_pdf_blocks, write_pdf, write_pdf_pages)

    blocks = [
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["aes page body text", "second body line words"]},
        {"kind": "field", "x": 72, "y": 600, "name": "Name",
         "value": "Grace Hopper"},
    ]
    variants = [dict(v=4, cfm="AESV2"), dict(v=4, cfm="V2"), dict(v=5)]
    for compress in (False, True):
        plain = write_pdf(blocks, compress=compress)
        ref = [(b.kind, b.text) for b in extract_pdf_blocks(plain)]
        assert any("Grace Hopper" in t for _, t in ref)
        for kw in variants:
            enc = encrypt_pdf_aes(plain, **kw)
            assert enc != plain and b"/Encrypt" in enc
            got = [(b.kind, b.text) for b in extract_pdf_blocks(enc)]
            assert got == ref, (compress, kw)
            locked = encrypt_pdf_aes(plain, user_pw=b"secret", **kw)
            assert extract_pdf_blocks(locked) == [], (compress, kw)

    # outline titles exercise the dict-string decrypt path per object
    pages = [[{"kind": "text", "x": 72, "y": 700,
               "lines": ["chapter body text here words",
                         "second body line here words"]}]]
    plain = write_pdf_pages(pages, outlines=["Chapter 1 — Début"])
    ref = [(b.kind, b.text) for b in extract_pdf_blocks(plain)]
    assert ref and ref[0][0] == "toc" and "Début" in ref[0][1]
    for kw in variants:
        got = [(b.kind, b.text)
               for b in extract_pdf_blocks(encrypt_pdf_aes(plain, **kw))]
        assert got == ref, kw


def test_pdf_filter_codecs_kat_and_roundtrip():
    """The from-scratch LZW/ASCII85/ASCIIHex/RunLength codecs
    (functions/pdffilters.py): LZW pinned to the PDF 32000-1 §7.4.4.2
    worked example (incl. the EarlyChange bit-width convention), ASCII85
    to the classic btoa vector, plus seeded encode→decode round-trips
    over low-entropy and full-byte payloads large enough to cross LZW
    width growth (9→12 bits) and table resets."""
    import random

    from ocr_spark.functions.pdffilters import (
        ascii85_decode, ascii85_encode, ascii_hex_decode, ascii_hex_encode,
        lzw_decode, lzw_encode, runlength_decode, runlength_encode)

    src = bytes([45] * 5 + [65] + [45] * 3 + [66])
    assert lzw_encode(src) == bytes.fromhex("800b6050220c0c8501")
    assert lzw_decode(bytes.fromhex("800b6050220c0c8501")) == src
    assert ascii85_encode(b"Man ") == b"9jqo^~>"
    assert ascii85_decode(b"9jqo^~>") == b"Man "
    assert ascii85_decode(b"z~>") == b"\x00" * 4
    assert ascii_hex_decode(b"48 6\n9>") == b"Hi"  # odd digit → pad 0
    assert runlength_decode(bytes([2]) + b"abc" + bytes([254, 120, 128])) \
        == b"abc" + b"x" * 3

    rng = random.Random(11)
    for trial in range(40):
        n = rng.randint(0, 3000)
        b = bytes(rng.randrange(4 if trial % 2 else 256) for _ in range(n))
        for enc, dec in ((lzw_encode, lzw_decode),
                         (ascii85_encode, ascii85_decode),
                         (ascii_hex_encode, ascii_hex_decode),
                         (runlength_encode, runlength_decode)):
            assert dec(enc(b)) == b, (trial, enc.__name__)
    big = bytes(random.Random(12).randrange(16) for _ in range(200_000))
    assert lzw_decode(lzw_encode(big)) == big  # width growth + resets

    # corrupt payloads raise (never silently mis-decode)
    for dec, bad in ((ascii_hex_decode, b"4G>"), (ascii85_decode, b"\x20v"),
                     (runlength_decode, bytes([5]) + b"ab"),
                     (lzw_decode, bytes([0xFF] * 8))):
        try:
            dec(bad)
        except ValueError:
            continue
        raise AssertionError(f"{dec.__name__} accepted corrupt input")


def test_pdf_filter_chains_extract_identically():
    """Content streams under every supported /Filter — LZW, ASCIIHex,
    ASCII85, RunLength, and two-stage CHAINS (ASCII armor over
    Flate/LZW) — extract span-for-span identically to the raw twin;
    abbreviated names (/LZW) and image-only filters (/DCTDecode →
    skip-not-garbage) are honored."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf

    blocks = [
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["filter chain body text", "second line of words here"]},
        {"kind": "field", "x": 72, "y": 600, "name": "Name", "value": "Ada"},
    ]
    ref = [(b.kind, b.text) for b in extract_pdf_blocks(write_pdf(blocks))]
    assert any("filter chain body" in t for _, t in ref)
    for spec in ("LZWDecode", "ASCIIHexDecode", "RunLengthDecode",
                 "ASCII85Decode+FlateDecode", "ASCII85Decode+LZWDecode",
                 "RunLengthDecode+FlateDecode", "ASCIIHexDecode+LZWDecode"):
        got = [(b.kind, b.text)
               for b in extract_pdf_blocks(write_pdf(blocks, compress=spec))]
        assert got == ref, spec

    # abbreviated name form
    abbr = write_pdf(blocks, compress="LZWDecode").replace(
        b"/LZWDecode", b"/LZW      ")
    assert [(b.kind, b.text) for b in extract_pdf_blocks(abbr)] == ref

    # image-only filter on a content stream: skip, never phantom text
    bad = write_pdf(blocks, compress=True).replace(
        b"/FlateDecode", b"/DCTDecode  ")
    assert extract_pdf_blocks(bad) == []

    # truncated LZW payload: deterministic skip, no crash
    lzw = bytearray(write_pdf(blocks, compress="LZWDecode"))
    i = lzw.find(b"stream\n") + 7
    lzw[i:i + 40] = bytes(40)
    assert isinstance(extract_pdf_blocks(bytes(lzw)), list)


def test_filter_corpus_spark_pipeline_matches_plain_twin(spark):
    """Spark-level A/B for non-Flate stream filters: ``filter_every``
    cycles LZW / ASCII85+Flate / ASCIIHex / RunLength across the corpus
    and the distributed extract stage produces spans IDENTICAL to the
    same-seed filter-off twin."""
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    plain = make_docs(80, seed=35, mega_every=40)
    enc = make_docs(80, seed=35, mega_every=40, filter_every=3)
    kinds = {k for d in enc for s in d["spans"]
             if s["kind"] == "pdf_bytes"
             for k in ("LZWDecode", "ASCII85Decode", "ASCIIHexDecode",
                       "RunLengthDecode") if "/" + k in s["text"]}
    assert len(kinds) >= 3, kinds

    def run(docs):
        sdf = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
             for d in docs], SPAN_SCHEMA_DDL).repartition(7)
        rows = extract_stage(sdf).collect()
        return _canonical([r.asDict(recursive=True) for r in rows])

    assert run(enc) == run(plain)


def test_pdf_text_utf8_bom_strings():
    """PDF 2.0 UTF-8 text strings (EF BB BF BOM, ISO 32000-2 §7.9.2.2)
    decode like the UTF-16BE form; malformed payloads under either BOM
    fall back to the byte-literal instead of raising mid-extraction."""
    from ocr_spark.functions.pdfx import _pdf_text

    t = "héllo — Δοκιμή"
    assert _pdf_text("\xef\xbb\xbf"
                     + t.encode("utf-8").decode("latin-1")) == t
    assert _pdf_text("\xfe\xff"
                     + t.encode("utf-16-be").decode("latin-1")) == t
    assert _pdf_text("plain latin") == "plain latin"
    bad = "\xef\xbb\xbf\xff\xfe"
    assert _pdf_text(bad) == bad


def test_rc4_corpus_spark_pipeline_matches_plain_twin(spark):
    """Spark-level A/B for real RC4 encryption: the distributed extract
    stage over a corpus with rc4_every=3 produces spans IDENTICAL to
    the same-seed rc4-off corpus — decryption happens inside the Arrow
    extract batch, so this is the north-rule span-sequence-equality
    surface, not just the pure-Python unit."""
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    plain = make_docs(60, seed=33, mega_every=40)
    enc = make_docs(60, seed=33, mega_every=40, rc4_every=3)
    assert any("/Encrypt" in s["text"] for d in enc for s in d["spans"]
               if s["kind"] == "pdf_bytes"), "rc4 knob never fired"

    def run(docs):
        sdf = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
             for d in docs], SPAN_SCHEMA_DDL).repartition(7)
        rows = extract_stage(sdf).collect()
        return _canonical([r.asDict(recursive=True) for r in rows])

    assert run(enc) == run(plain)


def test_aes_corpus_spark_pipeline_matches_plain_twin(spark):
    """Spark-level A/B for real AES encryption: ``aes_every`` cycles
    /AESV2, V=4 /CFM /V2, and PDF 2.0 /AESV3 across the corpus, and the
    distributed extract stage produces spans IDENTICAL to the same-seed
    aes-off twin — all three handler generations decrypt inside the
    Arrow extract batch at the north-rule span-equality surface."""
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    plain = make_docs(60, seed=34, mega_every=40)
    enc = make_docs(60, seed=34, mega_every=40, aes_every=3)
    gens = {v for d in enc for s in d["spans"]
            if s["kind"] == "pdf_bytes" and "/Encrypt" in s["text"]
            for v in ("AESV2", "AESV3", "/CFM /V2")
            if v in s["text"]}
    assert gens == {"AESV2", "AESV3", "/CFM /V2"}, gens

    def run(docs):
        sdf = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
             for d in docs], SPAN_SCHEMA_DDL).repartition(7)
        rows = extract_stage(sdf).collect()
        return _canonical([r.asDict(recursive=True) for r in rows])

    assert run(enc) == run(plain)


def test_artifact_marked_content_stripped():
    """``/Artifact … BDC … EMC`` pagination artifacts (PDF 32000
    §14.8.2.2 — how real producers tag running headers/footers) are
    dropped whole under the default config, kept verbatim under
    ``keep_artifacts=True``, and the scanner is string-aware: prose
    mentioning the operators is never treated as a span."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.functions.pdfx import (_strip_artifacts,
                                          extract_pdf_blocks, write_pdf)

    blocks = [
        {"kind": "header", "x": 72, "y": 760,
         "lines": ["Running header"], "artifact": "Header"},
        {"kind": "text", "x": 72, "y": 700,
         "lines": ["body line one", "body line two"]},
        {"kind": "footer", "x": 72, "y": 30,
         "lines": ["p. 1"], "artifact": "Footer"},
    ]
    plain = [{k: v for k, v in b.items() if k != "artifact"} for b in blocks]

    def spans(data, **kw):
        return [(b.kind, [ln.text for ln in b.lines])
                for b in extract_pdf_blocks(data, ExtractConfig(**kw))]

    for kw in ({}, {"compress": True}, {"xref_stream": True},
               {"type0": True, "xref_stream": True}):
        tagged, untagged = write_pdf(blocks, **kw), write_pdf(plain, **kw)
        assert spans(tagged) == [("text-block",
                                  ["body line one", "body line two"])], kw
        assert spans(tagged, keep_artifacts=True) == spans(untagged), kw

    # scanner edge cases -------------------------------------------------
    # prose mentioning the operators inside a literal string: untouched
    c = "BT (see the /Artifact <<x>> BDC marker) Tj ET"
    assert _strip_artifacts(c) == c
    # nested marked content inside an artifact ends at the MATCHING EMC
    r = _strip_artifacts("/Artifact <</Type /Pagination>> BDC (hdr) Tj "
                         "/Span <<>> BDC (in) Tj EMC (hdr2) Tj EMC "
                         "(body) Tj")
    assert "hdr" not in r and "(in)" not in r and "(body) Tj" in r
    # unterminated artifact: remainder dropped, earlier content kept
    r = _strip_artifacts("(keep) Tj /Artifact <<>> BDC (gone) Tj")
    assert "(keep) Tj" in r and "gone" not in r
    # BMC (no property list) form
    r = _strip_artifacts("/Artifact BMC (w) Tj EMC (b) Tj")
    assert "(w)" not in r and "(b) Tj" in r
    # non-artifact marked content passes through untouched
    r = _strip_artifacts("/Artifact BMC EMC /P <</MCID 0>> BDC (para) Tj EMC")
    assert "(para) Tj" in r and "/P" in r


def test_artifact_corpus_spark_pipeline_drops_tagged_watermark(spark):
    """Corpus-wide A/B for tagged pagination artifacts
    (artifact_every=2).  Tagged payloads carry a MID-PAGE watermark
    that only the /Artifact tag identifies as non-content (the
    header/footer band heuristic keeps mid-page text): under the
    default config the tagged corpus extracts span-for-span IDENTICAL
    to the untagged twin — the watermark never leaks — while
    ``keep_artifacts=True`` surfaces exactly one watermark span per
    tagged payload, proving the default-path equality is the strip at
    work and not a vacuous no-op."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.sources.corpus import SPAN_SCHEMA_DDL

    plain = make_docs(60, seed=35, mega_every=40)
    tagged = make_docs(60, seed=35, mega_every=40, artifact_every=2)
    n_tagged = sum(1 for d in tagged for s in d["spans"]
                   if s["kind"] == "pdf_bytes" and "/Artifact" in s["text"])
    assert n_tagged > 0, "artifact knob never fired"

    def run(docs, cfg=DEFAULT):
        sdf = spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]])
             for d in docs], SPAN_SCHEMA_DDL).repartition(7)
        rows = extract_stage(sdf, cfg).collect()
        return _canonical([r.asDict(recursive=True) for r in rows])

    base = run(plain)
    assert run(tagged) == base  # watermark + tagged header/footer all gone

    kept = run(tagged, ExtractConfig(keep_artifacts=True))
    n_wm = sum("DRAFT - internal review copy" in t
               for spans in kept.values() for _, t, _, _ in spans
               if t is not None)
    assert n_wm == n_tagged
    n_wm_base = sum("DRAFT" in t for spans in base.values()
                    for _, t, _, _ in spans if t is not None)
    assert n_wm_base == 0


def test_graphics_state_q_Q_save_restore():
    """``q``/``Q`` save/restore the graphics state and ``cm``
    CONCATENATES with the current CTM (PDF 32000 §8.4.4): a placement
    after ``q … cm … Q`` must see the identity CTM again (not the
    leaked scale), nested ``cm`` compose, and the text rendering mode
    (Tr — text state, part of the graphics state) restores on Q.  The
    synthetic writer masks all three (every placement carries its own
    q…cm…Q with a single cm) — these are real-producer stream shapes."""
    from ocr_spark.config import DEFAULT, ExtractConfig
    from ocr_spark.functions.pdfx import _parse_content

    xobjs = {"Im1": ("image",), "Im2": ("image",)}

    runs, figs = [], []
    _parse_content("q 2 0 0 2 10 20 cm /Im1 Do Q /Im2 Do",
                   runs, figs, DEFAULT, None, xobjs)
    assert figs == [(10.0, 20.0, 2.0, 2.0), (0.0, 0.0, 1.0, 1.0)]

    runs, figs = [], []
    _parse_content("q 2 0 0 2 0 0 cm q 1 0 0 1 5 5 cm /Im1 Do Q Q /Im2 Do",
                   runs, figs, DEFAULT, None, xobjs)
    assert figs == [(10.0, 10.0, 2.0, 2.0), (0.0, 0.0, 1.0, 1.0)]

    cfg = ExtractConfig(keep_invisible_text=False)
    runs, figs = [], []
    _parse_content("q BT 3 Tr (hidden) Tj ET Q BT (visible) Tj ET",
                   runs, figs, cfg)
    assert [r.text for r in runs] == ["visible"]

    # corrupt shapes degrade, never raise: unbalanced Q, spammed q
    runs, figs = [], []
    _parse_content("Q Q (t) 0 0 1 1 re f " + "q " * 200 + "/Im1 Do",
                   runs, figs, DEFAULT, None, xobjs)
    assert figs[0] == (0.0, 0.0, 1.0, 1.0)


def test_mediabox_page_height_drives_band_classification():
    """Header/footer bands are fractions of the page's OWN /MediaBox
    height, not a hardcoded US-Letter 792: a single body line at y=745
    on an A4 page (842 high, band starts 757.8) is main content, while
    the same content on a letter page (band starts 712.8) is a header
    — the old fixed-height bands silently dropped upper-body text on
    every A4 document."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks, write_pdf_pages

    pages = [[
        {"kind": "header", "x": 72, "y": 812, "lines": ["Page Header"]},
        {"kind": "text", "x": 72, "y": 745,
         "lines": ["single upper body line"]},
        {"kind": "text", "x": 72, "y": 400,
         "lines": ["mid page body", "second line"]},
        {"kind": "footer", "x": 72, "y": 30, "lines": ["p. 1"]},
    ]]
    a4 = [(b.kind, b.text) for b in
          extract_pdf_blocks(write_pdf_pages(pages, page_size=(595, 842)))]
    assert ("text-block", "single upper body line") in a4
    assert ("boilerplate", "Page Header") in a4
    letter = [(b.kind, b.text) for b in
              extract_pdf_blocks(write_pdf_pages(pages))]
    assert ("boilerplate", "single upper body line") in letter


def test_same_line_run_joining_is_gap_aware():
    """Producers split one WORD across several Tj/Td runs for kerning
    or font switches; a space is inferred between same-baseline runs
    only when the x-gap clears ``run_join_space_min`` ems — fragments
    rejoin seamlessly, real word breaks still get their space."""
    from ocr_spark.functions.pdfx import extract_pdf_blocks

    content = (b"BT /F1 12 Tf 1 0 0 1 72 400 Tm "
               b"(exam) Tj 24.2 0 Td (ple) Tj 21 0 Td (word) Tj ET")
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
           b"4 0 obj << /Length " + str(len(content)).encode() +
           b" >>\nstream\n" + content +
           b"\nendstream\nendobj\ntrailer << /Root 1 0 R >>")
    assert [b.text for b in extract_pdf_blocks(pdf)] == ["example word"]
