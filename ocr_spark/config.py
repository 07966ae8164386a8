"""Extraction thresholds, in one place.

SURVEY.md §7 ("golden rebinding risk") requires every classification /
boilerplate threshold to live in a single config dataclass so that when
the reference corpus materializes the thresholds can be re-fit without
touching pipeline code.  Spec: BASELINE.json:6 (line-density +
bounding-box heuristics; text-density / link-ratio DOM scoring).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    # ---- HTML boilerplate scoring (Boilerpipe-family shallow features,
    # Kohlschütter et al., WSDM 2010 — [public]) ----
    html_max_link_ratio: float = 1.0 / 3.0  # drop block if link chars / chars > this
    html_min_words: int = 8                 # drop block shorter than this ...
    html_heading_min_words: int = 3         # ... unless it is a heading with >= this

    # ---- PDF layout classification (line-density + bbox heuristics) ----
    header_footer_band: float = 0.10        # top/bottom 10% of page
    block_gap: float = 20.0                 # y-gap (pt) that starts a new block
    table_min_lines: int = 2                # a table block has >= this many lines
    table_col_gap_frac: float = 0.6         # ... and >= this fraction of columnar lines
    tj_space_kern: float = -100.0           # TJ adjustment below this inserts a space
    # same-line run joining: a space is inferred between two runs on one
    # baseline only when the x-gap between the previous run's estimated
    # extent and the next run's start is at least this many ems —
    # kerning/font-switch word fragments (small or negative gap)
    # concatenate, word breaks (≥ ~0.2 em in real fonts) get the space
    run_join_space_min: float = 0.15
    # multi-column reading order: a page splits at a vertical gutter —
    # an x-gap no body run crosses — at least this wide (pt), provided
    # both sides hold at least column_min_lines runs.  Full-width runs
    # inside the header/footer bands (titles, page numbers) are excluded
    # from gutter DETECTION (they span it by design) but still get a
    # column assigned for ordering.  0 disables detection.
    column_gutter_min: float = 24.0
    column_min_lines: int = 3
    # join PDF line-break hyphenations ("exam-\nple" → "example") when
    # the continuation starts lowercase — the standard OCR/print-layout
    # repair; off by default (goldens pin raw line text, and downstream
    # token-level ops may want the typographic form preserved)
    dehyphenate: bool = False
    # text rendering mode 3 (``3 Tr``) — the invisible OCR text layer
    # scanned-PDF producers paint over the page image.  True (default)
    # keeps it: for an OCR corpus the invisible layer IS the recognized
    # content.  False drops mode-3 runs at parse time — the hidden-text
    # keyword-spam defense a web-corpus curation pipeline wants.
    keep_invisible_text: bool = True
    # marked-content /Artifact spans (``/Artifact <<…>> BDC … EMC``,
    # PDF 32000 §14.8.2.2) — how real producers tag running headers/
    # footers, page numbers, watermarks, and decorative rules as
    # non-content.  False (default) strips them at parse time: they are
    # by definition not main content.  True keeps them for archival
    # extraction (they then classify through the normal band/layout
    # heuristics like untagged headers/footers).
    keep_artifacts: bool = False

    # ---- skew handling (E2) ----
    # Stable bucket count for lineage/restart AND the salted shuffle key:
    # bucket = pmod(xxhash64(doc_id), salt_buckets) is a uniform hash, so
    # clustering the one Exchange (planned for waves above one task's
    # worth of input) by bucket balances work (keep buckets >= ~4x the
    # max expected task parallelism so each task gets several buckets
    # and mega-docs average out).  The sink writes one file per
    # task with ``bucket`` as a data column, so the bucket is the commit
    # unit without being a directory.
    salt_buckets: int = 256
    # E2 weight variant: split a document's offset-sorted spans into
    # chunks of <= this many spans before the UDF stage, bounding
    # per-task work even for 500x-median mega-docs (skew.chunk_spans).
    # None = no sub-split (doc granularity; goldens pinned to this).
    # balanced_extract restitches the chunks before the sink (one more
    # exchange, on bucket), so the table, its lineage and every reader
    # see the same whole-document rows and checksums either way.
    chunk_max_spans: int | None = None


DEFAULT = ExtractConfig()
