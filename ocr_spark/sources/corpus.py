"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §B).

The reference's sample PDF/image corpus is unavailable (SURVEY.md §0),
so tests/bench synthesize the input table mandated by
BASELINE.json:15 input_hint:
  (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int32>>)

Every payload is a pure function of (seed, doc index) — no RNG state
crosses documents, so generation distributes embarrassingly via
spark.range(n) → mapInPandas, and the same docs can be rebuilt in a
plain pandas loop for the test oracle.  Span-count distribution is
lognormal with injected mega-docs (~50× median) to exercise salted
repartitioning (E2, BASELINE.json:6 "skew from mega-PDFs").
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

from ocr_spark.functions.pdfx import write_pdf_encrypted, write_pdf_pages

_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "data", "spark", "engine", "extract", "span",
    "layout", "document", "stream", "vector", "batch", "arrow", "column",
]

SPAN_SCHEMA_DDL = (
    "doc_id string, spans array<struct<"
    "kind:string, text:string, media_ref:string, offset:int>>"
)
EXTRACTED_SCHEMA_DDL = (
    "doc_id string, spans array<struct<"
    "kind:string, text:string, media_ref:string, order:int>>"
)


def _rng(seed: int, *key) -> random.Random:
    h = hashlib.blake2b(
        ("|".join([str(seed), *map(str, key)])).encode(), digest_size=8
    ).digest()
    return random.Random(int.from_bytes(h, "big"))


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _html_payload(rng: random.Random, doc_id: str, heft: int = 1,
                  table_rng: random.Random | None = None) -> str:
    nav = "".join(f'<li><a href="/x{i}">link {i}</a></li>' for i in range(5))
    paras = []
    for p in range(rng.randint(1, 4) * heft):
        if rng.random() < 0.25:  # link-farm paragraph → boilerplate
            paras.append(
                "<p>" + " ".join(
                    f'<a href="/p{j}">{_words(rng, 2)}</a>' for j in range(4)
                ) + "</p>"
            )
        else:
            paras.append(f"<p>{_words(rng, rng.randint(10, 40))}</p>")
    img = (
        f'<img src="img://{doc_id}/{rng.randint(0, 999)}.png"/>'
        if rng.random() < 0.4 else ""
    )
    short = f"<p>{_words(rng, rng.randint(1, 5))}</p>" if rng.random() < 0.5 else ""
    # data table drawn from a SEPARATE forked rng so the default
    # (table_rng=None) path leaves ``rng``'s draw order — and therefore
    # the pinned goldens — bit-identical
    tbl = ""
    if table_rng is not None:
        rows = "".join(
            "<tr>" + "".join(
                f"<td>{_words(table_rng, table_rng.randint(1, 3))}</td>"
                for _ in range(3)) + "</tr>"
            for _ in range(table_rng.randint(2, 4)))
        tbl = f"<table><caption>{_words(table_rng, 2)}</caption>{rows}</table>"
    return (
        f"<html><head><title>t</title></head><body>"
        f"<nav><ul>{nav}</ul></nav>"
        f"<h1>{_words(rng, 4)}</h1>"
        f"<div class='content'>{paras and ''.join(paras)}{tbl}{img}{short}</div>"
        f"<footer><p>copyright {_words(rng, 3)}</p></footer>"
        f"</body></html>"
    )


@dataclass(frozen=True)
class CorpusSpec:
    """The generator's knobs.  ``make_doc``, ``make_docs`` and
    ``generate_interleaved`` take each field as a keyword argument.

    Each variant knob (``compress_every`` … ``artifact_every``) set to N
    applies its variant to every span whose document index + span index
    is a multiple of N; 0 = never.  The defaults reproduce the pinned
    goldens bit-for-bit: a variant draws only from its own forked rng
    (or from none), so switching it on leaves every other draw — and
    every other span — unchanged."""

    # every Nth document (index > 0) gets 50× the spans: the mega-doc
    # tail that skews the shuffle (E2, BASELINE.json:6)
    mega_every: int = 1000
    # multiplies per-payload content volume (text words, HTML paragraphs,
    # PDF text blocks) without touching span counts; heft>1 yields
    # KB-to-tens-of-KB documents whose compute/byte ratio matches real
    # OCR inputs (the benchmarks use heft=5)
    heft: int = 1
    # flate-encode the PDF's content streams (the real-world default);
    # extraction must give identical spans either way
    compress_every: int = 0
    # PDF 1.5+ layout: cross-reference stream + object stream (the
    # modern-producer default)
    xref_every: int = 0
    # text shown through a synthetic Type0/Identity-H font + ToUnicode
    # CMap (subset-embedded fonts); needs the structured parse, so these
    # spans are always also written in the xref-stream layout
    type0_every: int = 0
    # page content moved into a /Subtype /Form XObject invoked from a thin
    # wrapper stream (the letterhead/stamp layout); classic xref only —
    # the writer has no form+xref-stream combination, though the reader
    # resolves forms through either layout
    form_every: int = 0
    # a data <table> (caption + 2-4 rows of 3 cells) in the HTML span's
    # content div
    html_table_every: int = 0
    # 1-2 /Annots link annotations; classic xref only
    pdf_link_every: int = 0
    # a scanned-page OCR layer: full-page image + invisible ``3 Tr`` text
    ocr_layer_every: int = 0
    # 1-2 filled AcroForm text-field widgets; classic xref only
    field_every: int = 0
    # /Encrypt trailer + XOR-scrambled streams with no key: extraction
    # must emit zero spans for these payloads
    encrypted_every: int = 0
    # 1-3 /Outlines bookmark titles, one possibly non-latin-1 (UTF-16BE
    # titles), emitted as a leading 'toc' span; classic xref only
    outline_every: int = 0
    # REALLY encrypted: standard security handler RC4 V=1/R=2, empty user
    # password; classic xref only, not on encrypted_every spans;
    # extraction must decrypt these and reproduce the rc4-off twin corpus
    rc4_every: int = 0
    # likewise AES-encrypted, cycling /AESV2 (AES-128 crypt filter),
    # V=4 /CFM /V2 and PDF 2.0 /AESV3 (AES-256, R=6) by span index, so
    # all three handler generations appear; classic xref only, not on
    # encrypted_every or rc4_every spans
    aes_every: int = 0
    # content streams under a non-Flate /Filter chain, cycling LZWDecode,
    # [ASCII85Decode FlateDecode], ASCIIHexDecode and RunLengthDecode by
    # span index (the older-producer / ASCII-armored slice); overrides
    # compress_every, not on encrypted_every spans
    filter_every: int = 0
    # running header and footer tagged ``/Artifact … BDC … EMC`` (the
    # tagged-producer variant, PDF 32000 §14.8.2.2) plus a mid-page
    # watermark only the tag identifies: extraction must drop exactly
    # those under the default keep_artifacts=False and reproduce the
    # untagged twin under keep_artifacts=True
    artifact_every: int = 0


def _every(n: int, k: int) -> bool:
    return bool(n) and k % n == 0


def _pdf_payload(rng: random.Random, spec: CorpusSpec, k: int, fork) -> str:
    """One PDF span's bytes.  ``k`` = document index + span index picks
    the variants; ``fork(tag)`` builds a variant's own rng."""
    type0 = _every(spec.type0_every, k)
    xref_stream = type0 or _every(spec.xref_every, k)
    classic = not xref_stream
    encrypted = _every(spec.encrypted_every, k)
    rc4 = classic and not encrypted and _every(spec.rc4_every, k)
    # (V, crypt filter): AES-128 /AESV2, V=4 /V2, AES-256 /AESV3 (R=6)
    aes = (((4, "AESV2"), (4, "V2"), (5, "AESV2"))[k // spec.aes_every % 3]
           if classic and not (encrypted or rc4) and _every(spec.aes_every, k)
           else None)
    compress = (("LZWDecode", "ASCII85Decode+FlateDecode",
                 "ASCIIHexDecode", "RunLengthDecode")[k // spec.filter_every % 4]
                if not encrypted and _every(spec.filter_every, k)
                else _every(spec.compress_every, k))
    artifact = _every(spec.artifact_every, k)
    blocks = [
        {"kind": "header", "x": 72, "y": 760, "lines": [f"Page header {_words(rng, 2)}"]},
    ]
    if artifact:
        # the tagged-producer variant: running header/footer carry
        # /Artifact marked content (redundant with the band heuristic —
        # both paths drop them), PLUS a mid-page watermark that ONLY
        # the artifact tag identifies as non-content (the band
        # heuristic keeps mid-page text).  Constant text: must not
        # consume rng draws, so the tagged corpus's other spans stay
        # bit-identical to the untagged twin.
        blocks[0]["artifact"] = "Header"
        blocks.append({"kind": "text", "x": 180, "y": 400,
                       "lines": ["DRAFT - internal review copy"],
                       "artifact": "Watermark"})
    y = 700
    for _ in range(rng.randint(1, 3) * spec.heft):
        n_lines = rng.randint(2, 6)
        blocks.append({
            "kind": "text", "x": 72, "y": y,
            "lines": [_words(rng, rng.randint(4, 9)) for _ in range(n_lines)],
        })
        y -= 14 * n_lines + 40
    if rng.random() < 0.35:
        blocks.append({
            "kind": "table", "x": 72, "y": y,
            "lines": [
                f"{_words(rng, 1):<12}  {rng.randint(0, 99):>6}  {rng.randint(0, 99):>6}"
                for _ in range(3)
            ],
        })
        y -= 14 * 3 + 40
    if rng.random() < 0.3:
        blocks.append({"kind": "figure", "x": 100, "y": max(y - 90, 60), "w": 120, "h": 80})
    # link annotations; classic layout only — /Annots emission lives in
    # the classic writer
    if classic and _every(spec.pdf_link_every, k):
        link_rng = fork("lnk")
        for _ in range(link_rng.randint(1, 2)):
            blocks.append({
                "kind": "link", "x": 72,
                "y": max(y - link_rng.randint(0, 60), 45),
                "w": link_rng.randint(60, 200), "h": 12,
                "uri": f"https://ref.example/{_words(link_rng, 1)}"
                       f"/{link_rng.randint(0, 999)}",
            })
    # scanned-page OCR layer: a full-page image figure with the
    # recognized text painted invisibly (3 Tr) over it — extraction
    # keeps the text (keep_invisible_text default) plus the page figure
    if _every(spec.ocr_layer_every, k):
        ocr_rng = fork("ocr")
        blocks.append({"kind": "figure", "x": 0, "y": 0, "w": 612, "h": 792})
        blocks.append({
            "kind": "text", "x": 72, "y": max(y, 120), "invisible": True,
            "lines": [_words(ocr_rng, ocr_rng.randint(4, 9))
                      for _ in range(ocr_rng.randint(2, 4))],
        })
    # filled AcroForm text fields; classic layout only, like links
    if classic and _every(spec.field_every, k):
        field_rng = fork("fld")
        for f in range(field_rng.randint(1, 2)):
            blocks.append({
                "kind": "field", "x": 72,
                "y": max(y - 20 * f - field_rng.randint(0, 40), 48),
                "name": _words(field_rng, 1),
                "value": _words(field_rng, field_rng.randint(1, 4)),
            })
    blocks.append({"kind": "footer", "x": 72, "y": 30, "lines": ["p. 1"],
                   **({"artifact": "Footer"} if artifact else {})})
    if encrypted:
        return write_pdf_encrypted(blocks, compress=compress).decode("latin-1")
    outlines = None
    if classic and _every(spec.outline_every, k):
        outline_rng = fork("toc")
        outlines = [f"{_words(outline_rng, 2)} — §{outline_rng.randint(1, 9)}"
                    for _ in range(outline_rng.randint(1, 3))]
    raw = write_pdf_pages([blocks], compress=compress,
                          xref_stream=xref_stream, type0=type0,
                          form_xobject=classic and _every(spec.form_every, k),
                          outlines=outlines)
    if rc4:
        from ocr_spark.functions.pdfcrypt import encrypt_pdf_rc4
        raw = encrypt_pdf_rc4(raw)
    elif aes is not None:
        from ocr_spark.functions.pdfcrypt import encrypt_pdf_aes
        v, cfm = aes
        raw = encrypt_pdf_aes(raw, v=v, cfm=cfm)
    return raw.decode("latin-1")


def _make_doc(i: int, seed: int, spec: CorpusSpec) -> dict:
    doc_id = f"doc{i:08d}"
    rng = _rng(seed, "doc", i)
    n = 1 + min(int(rng.lognormvariate(0.8, 0.7)), 40)
    if i > 0 and _every(spec.mega_every, i):
        n *= 50  # mega-doc tail → skew for E2
    spans, offset = [], 0
    for j in range(n):
        offset += rng.randint(1, 1000)
        srng = _rng(seed, "span", i, j)
        r = srng.random()
        if r < 0.45:
            sp = {"kind": "text", "text": _words(srng, srng.randint(5, 30) * spec.heft),
                  "media_ref": None, "offset": offset}
        elif r < 0.70:
            trng = (_rng(seed, "tbl", i, j)
                    if _every(spec.html_table_every, i + j) else None)
            sp = {"kind": "html",
                  "text": _html_payload(srng, doc_id, spec.heft, table_rng=trng),
                  "media_ref": None, "offset": offset}
        elif r < 0.85:
            sp = {"kind": "pdf_bytes",
                  "text": _pdf_payload(srng, spec, i + j,
                                       lambda tag: _rng(seed, tag, i, j)),
                  "media_ref": None, "offset": offset}
        else:
            sp = {"kind": "media", "text": None,
                  "media_ref": f"s3://corpus/{doc_id}/m{j}.jpg", "offset": offset}
        spans.append(sp)
    return {"doc_id": doc_id, "spans": spans}


def make_doc(i: int, seed: int = 42, **knobs) -> dict:
    """Pure function (seed, i, knobs) → one interleaved document row;
    ``knobs`` are ``CorpusSpec`` fields, and an unknown one raises
    TypeError."""
    return _make_doc(i, seed, CorpusSpec(**knobs))


def make_docs(n_docs: int, seed: int = 42, **knobs) -> list[dict]:
    """Driver-side generation for small test fixtures (pure Python)."""
    spec = CorpusSpec(**knobs)
    return [_make_doc(i, seed, spec) for i in range(n_docs)]


def generate_interleaved(spark, n_docs: int, seed: int = 42,
                         partitions: int | None = None, **knobs):
    """Distributed generation: spark.range → mapInPandas (scales to any n).

    No driver-side materialization; each task builds its id-range of docs,
    row-for-row equal to ``make_docs``.  The spec is built here, so an
    unknown knob raises TypeError before any job starts.
    """
    import pandas as pd

    spec = CorpusSpec(**knobs)
    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = [_make_doc(int(i), seed, spec) for i in pdf["id"]]
            yield pd.DataFrame({
                "doc_id": [r["doc_id"] for r in rows],
                "spans": [
                    [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in r["spans"]]
                    for r in rows
                ],
            })

    return rng_df.mapInPandas(gen, schema=SPAN_SCHEMA_DDL)
