"""The zipimporter stamp check (ocr_spark/zipcache.py).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython < 3.13 each cached zipimporter then re-reads its whole
archive directory.  Importing ocr_spark installs a replacement that
re-reads only archives whose (mtime_ns, size) changed.  Spark-free
tests pin the rule on a zip package of their own; the Spark test checks
that a reused worker runs with it.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import ocr_spark  # noqa: F401  (installs the replacement)
from ocr_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ runs zipimport unpatched")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """A package ``zc_pkg`` imported from a zip on sys.path; yields the
    archive path and a list that records every archive read."""
    archive = str(tmp_path / "zc.zip")
    _write_zip(archive, {"zc_pkg/__init__.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    import zc_pkg
    assert zc_pkg.VALUE == 1 and zc_pkg.__file__.startswith(archive)

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zc_pkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(zip_package):
    archive, reads = zip_package
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache._invalidate_if_changed
    importlib.invalidate_caches()  # a zipimporter made after install reads once
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads


def test_changed_archive_is_reread(zip_package):
    archive, reads = zip_package
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, {"zc_pkg/__init__.py": "VALUE = 1\n",
                         "zc_pkg/added.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert archive in reads
    from zc_pkg import added
    assert added.VALUE == 2


def test_install_is_idempotent_and_skipped_on_313(monkeypatch):
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache._invalidate_if_changed
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipcache._read_always)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._read_always


def test_reused_worker_skips_the_rescan(spark):
    """After an engine UDF ran, a worker that imported ocr_spark in an
    earlier task re-reads no archive on invalidate_caches() — the call
    pyspark makes before each task.  The probe is pickled by value and
    imports nothing from ocr_spark, so it sees the worker as it was."""
    from ocr_spark.sources.corpus import generate_interleaved

    n = spark.sparkContext.defaultParallelism
    assert generate_interleaved(spark, 4 * n, seed=3, partitions=n).count() \
        == 4 * n

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        loaded = "ocr_spark" in sys.modules
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({
            "loaded": [loaded],
            "patched": [method.__module__ == "ocr_spark.zipcache"],
            "reads": [len(reads)],
            "zips": [sum(isinstance(f, zipimport.zipimporter)
                         for f in sys.path_importer_cache.values())],
        })

    # Spark hands out idle workers oldest first, so after a long session
    # the first n probe tasks can all land on workers that only ever ran
    # UDFs pickled by value and never imported ocr_spark.  Enough tasks to
    # cycle through the whole idle pool also reach the warm-up's workers.
    rows = (spark.range(8 * n, numPartitions=8 * n)
            .mapInPandas(probe, "loaded boolean, patched boolean, reads int, "
                                "zips int")
            .collect())
    warm = [r for r in rows if r["loaded"]]
    assert warm, rows
    assert all(r["patched"] and r["reads"] == 0 for r in warm), rows
    assert all(r["zips"] > 0 for r in warm), rows
