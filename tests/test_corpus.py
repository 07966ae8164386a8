"""The synthetic corpus generator (sources/corpus.py).

The goldens pin the default knobs only, and the per-knob A/B tests in
test_extract_semantics.py compare extraction outputs, not the generated
bytes.  The digests below pin the bytes themselves for every variant
knob, so a refactor of the generator cannot silently change any slice
of the corpus.  AES-256 spans cost seconds each in pure Python, so the
knob sets hold exactly one of them (``aes_every=2`` over 24 docs).
"""

from __future__ import annotations

import hashlib

import pytest

from ocr_spark.sources.corpus import (
    generate_interleaved,
    make_doc,
    make_docs,
)

VARIANTS = ("compress_every", "xref_every", "type0_every", "form_every",
            "html_table_every", "pdf_link_every", "ocr_layer_every",
            "field_every", "encrypted_every", "outline_every", "rc4_every",
            "aes_every", "filter_every", "artifact_every")

#: blake2b-128 of ``repr(make_docs(24, seed=7, **{knob: 2}))``
DIGEST_ALONE = {
    "compress_every": "701d2d360f7f6dfb22752e5bd82235fd",
    "xref_every": "8bfeea2e79a6fb879c2c48b8e1b3dde2",
    "type0_every": "a22b5acdc8d98a82d137afa9ebcc55b0",
    "form_every": "820a99cd7a8ea05e3ebdd01dbe3f9d1e",
    "html_table_every": "e85d61b166d08ed954d65cd680393385",
    "pdf_link_every": "fdf835227679c330e8473785346351ce",
    "ocr_layer_every": "5c82c095a49b83ec88c802be8305ca8c",
    "field_every": "161546cf4e60f5c366104db0708a9eef",
    "encrypted_every": "e8fb751620024cf120b77d81f8e16e76",
    "outline_every": "101cdd190da2f7422e0d31bdc997495f",
    "rc4_every": "8633e80955b64a81ae9cf03c294cf3e4",
    "aes_every": "a823641037a16040a7f502a150c44c59",
    "filter_every": "b236877df39dea56b2bd594e9bc59924",
    "artifact_every": "8b715daf92799863fb14c9e2e4b097a9",
}
#: every variant at once, with mega-docs and heft; aes_every=11 hits
#: only the V2 generation here, which keeps AES-256 out of this set
ALL_KNOBS = {**{k: 3 for k in VARIANTS}, "aes_every": 11, "heft": 2,
             "mega_every": 7}
DIGEST_ALL = "2a5a67fba6c318a17c4582987ae88504"
DIGEST_DEFAULT = "48e4c5d8d976396e4b49f1610bef3f45"


def _digest(n_docs: int, **knobs) -> str:
    docs = make_docs(n_docs, seed=7, **knobs)
    return hashlib.blake2b(repr(docs).encode(), digest_size=16).hexdigest()


def test_every_variant_knob_is_pinned():
    assert set(DIGEST_ALONE) == set(VARIANTS)
    assert _digest(24) == DIGEST_DEFAULT
    got = {k: _digest(24, **{k: 2}) for k in VARIANTS}
    assert got == DIGEST_ALONE
    # each knob really changes the corpus at these sizes
    assert DIGEST_DEFAULT not in got.values()
    assert _digest(16, **ALL_KNOBS) == DIGEST_ALL


def test_make_doc_equals_make_docs_row():
    docs = make_docs(12, seed=7, **ALL_KNOBS)
    assert [make_doc(i, 7, **ALL_KNOBS) for i in range(12)] == docs


def test_unknown_knob_raises_before_any_spark_job():
    with pytest.raises(TypeError):
        make_doc(0, bogus_every=2)
    with pytest.raises(TypeError):
        make_docs(1, bogus_every=2)
    # no session is needed to reject the knob: it fails on the driver
    with pytest.raises(TypeError):
        generate_interleaved(None, 1, bogus_every=2)


def test_generate_interleaved_equals_make_docs_for_every_knob(spark):
    knobs = dict(encrypted_every=3, artifact_every=2, html_table_every=2,
                 rc4_every=4)
    got = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in generate_interleaved(spark, 40, seed=19, partitions=3,
                                      **knobs).collect()
    }
    want = {
        d["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in d["spans"]]
        for d in make_docs(40, seed=19, **knobs)
    }
    assert got == want
