"""Materialize the expected exploded span table for the driver-visible
``extract_pipeline_checked`` oracle (round-3 verdict task 3).

The straight-line single-process extractor (make_docs + extract_doc —
the same independent path that produced extract_seed42_n120.json) runs
over the deterministic seed-42 corpus with the EXACT knobs the
``extract_pipeline_checked`` query uses (n=300, mega_every=100), and the
result is written as a flat parquet.  DuckDB reads it with
``read_parquet``, which makes the extraction pipeline a full
rows+schema+value-hash driver check: the Spark cluster run must equal
this independently materialized table cell-for-cell.

Regenerate after ANY intentional extraction-semantics change:

    python tests/golden/gen_expected_spans.py

and commit the parquet (it is deterministic — byte-stable across runs).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.config import DEFAULT
from ocr_spark.functions.extract_core import extract_doc
from ocr_spark.sources.corpus import make_docs

N_DOCS, SEED, MEGA_EVERY = 300, 42, 100
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "extract_expected_seed42_n300.parquet")

SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("span_idx", pa.int32()),
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("span_order", pa.int32()),
])


def main() -> None:
    rows = {name: [] for name in SCHEMA.names}
    for d in make_docs(N_DOCS, seed=SEED, mega_every=MEGA_EVERY):
        for idx, s in enumerate(extract_doc(d["doc_id"], d["spans"], DEFAULT)):
            rows["doc_id"].append(d["doc_id"])
            rows["span_idx"].append(idx)
            rows["kind"].append(s["kind"])
            rows["text"].append(s["text"])
            rows["media_ref"].append(s["media_ref"])
            rows["span_order"].append(s["order"])
    table = pa.Table.from_pydict(rows, schema=SCHEMA)
    pq.write_table(table, OUT, compression="snappy")
    print(f"wrote {table.num_rows} spans for {N_DOCS} docs -> {OUT}")


if __name__ == "__main__":
    main()
