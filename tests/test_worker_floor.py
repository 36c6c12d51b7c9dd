"""The per-task floor of a Python stage (document_ai_spark/__init__.py):
on a Spark Python worker, ``importlib.invalidate_caches()`` re-reads only
the zip archives that changed since their importer last read them."""

import importlib
import os
import sys
import zipfile
import zipimport

import document_ai_spark


def test_worker_rereads_no_unchanged_archive(spark):
    """In a task, a second invalidate_caches() after the package import
    re-reads no archive (the stock method re-read all 16 of the worker's
    importers, 0.2-0.3 s, before every task)."""

    def probe(rows):
        import importlib
        import sys
        import zipimport

        import document_ai_spark  # noqa: F401

        importlib.invalidate_caches()
        reads, read = [], zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        for _ in rows:
            pass
        yield len(importers), reads

    n_importers, reads = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    assert n_importers >= 1
    assert reads == []


def test_changed_archive_is_reread_and_its_new_module_imports(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", document_ai_spark._invalidate_if_changed)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    reads, read = [], zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("floor_mod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("floor_mod_a").X == 1
        importlib.invalidate_caches()  # no stamp yet: reads
        importlib.invalidate_caches()  # unchanged: does not
        assert reads.count(archive) == 2  # the importer's first read, then one

        with zipfile.ZipFile(archive, "a") as z:  # a new module: new size
            z.writestr("floor_mod_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
        assert importlib.import_module("floor_mod_b").Y == 2

        st = os.stat(archive)  # same bytes, new mtime
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 4
    finally:
        sys.modules.pop("floor_mod_a", None)
        sys.modules.pop("floor_mod_b", None)


def test_driver_keeps_the_stock_method(spark):
    """A driver that ran Python tasks never imports pyspark.worker, so
    importing the package there leaves zipimport as it was."""
    assert spark.sparkContext.parallelize([1, 2], 2).map(lambda x: x + 1).sum() == 5
    importlib.reload(document_ai_spark)
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches is document_ai_spark._reread
    assert document_ai_spark._reread.__module__ == "zipimport"
