"""spark-submit entrypoint for the extraction job (EP1, SURVEY.md §3).

Spec: BASELINE.json:6/:14 — "The job ships as spark-submit --py-files
packages".  Usage:

  python make_pyfiles.py                      # build ocr_spark.zip
  spark-submit --py-files ocr_spark.zip run_extract.py \
      --input synthetic:2000 --output /tmp/extracted \
      --partitions 32 --buckets 64 [--wave-size 16]

--input is either a parquet path holding the interleaved-document table
(doc_id, spans:array<struct<kind,text,media_ref,offset>>) or
``synthetic:N`` to generate N deterministic corpus docs distributed.
Re-running with the same --output resumes: only salt buckets absent
from the committed manifest are processed (E10).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="interleaved-document extraction job")
    ap.add_argument("--input", required=True, help="parquet path or synthetic:N")
    ap.add_argument("--output", required=True,
                    help="output table root, or iceberg:<ident>, which "
                         "needs a live Iceberg catalog (its manifest "
                         "lineage is not implemented: NotImplementedError)")
    ap.add_argument("--partitions", type=int, default=None,
                    help="tasks per wave; default: one per "
                         "pipeline.TASK_BYTES of a parquet input, up to "
                         "the default parallelism")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--wave-size", type=int, default=None)
    ap.add_argument("--chunk-max-spans", type=int, default=None,
                    help="E2 weight variant: sub-split docs into chunks of "
                         "<= N spans before the UDF stage (mega-doc defense)")
    ap.add_argument("--drop-invisible-text", action="store_true",
                    help="drop PDF rendering-mode-3 (invisible) text "
                         "instead of keeping the OCR layer — the "
                         "hidden-keyword-spam defense for web corpora")
    ap.add_argument("--dehyphenate", action="store_true",
                    help="join PDF line-break hyphenations whose "
                         "continuation starts lowercase")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--fail-after-waves", type=int, default=None,
                    help="test hook: crash after N committed waves")
    args = ap.parse_args()

    from ocr_spark.config import ExtractConfig
    from ocr_spark.plans.pipeline import run_extract
    from ocr_spark.session import get_spark
    from ocr_spark.sources.corpus import generate_interleaved

    spark = get_spark("ocr_spark_extract")  # keeps spark-submit's --master
    cfg = ExtractConfig(salt_buckets=args.buckets,
                        chunk_max_spans=args.chunk_max_spans,
                        keep_invisible_text=not args.drop_invisible_text,
                        dehyphenate=args.dehyphenate)

    if args.input.startswith("synthetic:"):
        n = int(args.input.split(":", 1)[1])
        docs = generate_interleaved(spark, n, seed=args.seed, partitions=args.partitions)
    else:
        docs = spark.read.parquet(args.input)

    metrics = run_extract(
        spark, docs, args.output, cfg=cfg,
        num_partitions=args.partitions, wave_size=args.wave_size,
        fail_after_waves=args.fail_after_waves,
    )
    print(json.dumps({**metrics, "master": spark.sparkContext.master}))
    spark.stop()


if __name__ == "__main__":
    main()
