"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "ocr_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's session.  ``master=None`` keeps the launcher's master
    (spark-submit --master, or pyspark's local[*] default)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # shuffle partitions ≈ cores in local mode (guide: default 200 is wrong
    # for both tiny and huge local data); on a real cluster this is set per
    # job size / AQE coalesces it.
    n_shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    b = SparkSession.builder
    if master is not None:
        b = b.master(master)
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Python-worker memory for mega-docs (SURVEY.md §4: tune
        # maxRecordsPerBatch down for huge-span documents).  Measured
        # interleaved A/B on the extract stage (20k heft=5 docs,
        # local[16], medians of 3): 128→3.10s, 512→2.73s, 2048→3.28s,
        # 10000→3.27s — 512 balances Arrow transfer amortization against
        # per-batch peak memory and pipeline latency
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # sink codec: measured interleaved A/B on the extract sink (20k
        # heft=5 docs, local[16], medians of 3) — write time equal
        # within noise (zstd 2.50s vs snappy 2.56s vs lz4 2.40s) but
        # output size 14.5 MB (zstd) vs 21.2 MB (snappy) vs 63.4 MB
        # (uncompressed): at corpus scale the 31% smaller files are pure
        # storage + downstream-scan savings for free
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("OCR_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
