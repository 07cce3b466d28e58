"""Python task start-up: Spark's worker calls ``importlib.invalidate_caches()``
before every task, and on CPython < 3.13 that re-reads the directory of every
zip archive on ``sys.path`` (pyspark.zip, py4j, the spark-core jar) unless
the engine's stamp cache (``orc_format_spark._cache_zip_directories``) is
installed."""

import importlib
import sys
import time
import zipfile
import zipimport

import pyarrow as pa

from orc_format_spark import pipeline  # importing the engine installs the cache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path,
                                                         monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zmod_a": "A = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zmod_a
        assert zmod_a.A == 1
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        # rewritten archive: a new (mtime, size, inode) stamp forces a re-read
        time.sleep(0.01)
        _write_zip(archive, {"zmod_a": "A = 1\n", "zmod_b": "B = 2\n"})
        importlib.invalidate_caches()
        import zmod_b
        assert zmod_b.B == 2
        assert str(archive) in reads
    finally:
        sys.modules.pop("zmod_a", None)
        sys.modules.pop("zmod_b", None)
        sys.path_importer_cache.pop(str(archive), None)


def test_spark_workers_cache_zip_directories(spark):
    """Every task's worker runs the engine's invalidate_caches (or a stdlib
    that caches lazily), and a repeated invalidate re-reads no archive."""

    def probe(batch):
        # references the engine, as every kernel does, so the worker imports it
        ids = pipeline._column(batch, "id")
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        method = zipimport.zipimporter.invalidate_caches
        ok = (method.__module__ == "orc_format_spark"
              or hasattr(zipimport.zipimporter, "_get_files"))
        n = len(ids)
        return pa.RecordBatch.from_pydict({"ok": [ok] * n,
                                           "rereads": [len(reads)] * n})

    rows = pipeline.run_kernel(spark.range(0, 16, 1, 4), ["id"], probe,
                               "ok boolean, rereads long").collect()
    assert len(rows) == 16
    assert all(r["ok"] for r in rows)
    assert all(r["rereads"] == 0 for r in rows)
