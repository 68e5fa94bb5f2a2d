"""The session's Python-worker daemon: its zipimporter guard re-reads an
archive's directory only when the archive changed, and `get_spark`
sessions' workers run it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from kiri_ocr_spark import daemon


def _write_zip(path, *modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """An archive holding m1, on sys.path and imported through a
    zipimporter, with the guard installed and _read_directory calls on the
    archive counted."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "m1")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon._invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("m1").NAME == "m1"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    yield archive, importer, reads
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_guard_private_names_exist():
    # the guard reads and writes these; a rename in a newer CPython must
    # fail here, not silently fall back to re-reading on every task
    assert isinstance(zipimport._zip_directory_cache, dict)
    assert callable(zipimport._read_directory)
    names = daemon._stock_invalidate_caches.__code__.co_names
    assert {"_files", "_zip_directory_cache", "_read_directory"} <= set(names)


def test_guard_skips_rereading_an_unchanged_archive(guarded_zip):
    archive, importer, reads = guarded_zip
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) <= 1
    assert importer._files is zipimport._zip_directory_cache[archive]
    assert "m1.py" in importer._files


def test_guard_rereads_a_rewritten_archive(guarded_zip):
    archive, _, _ = guarded_zip
    importlib.invalidate_caches()
    _write_zip(archive, "m1", "m2")
    importlib.invalidate_caches()
    assert importlib.import_module("m2").NAME == "m2"


def test_guard_empties_a_vanished_archive_like_stock(guarded_zip):
    archive, importer, _ = guarded_zip
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def _probe(batches):
    reads = []
    stock_read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stock_read(path)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stock_read
    for _ in batches:
        pass
    yield pd.DataFrame(
        {
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "rereads": [len(reads)],
        }
    )


def test_get_spark_workers_run_the_guard(spark):
    df = spark.range(0, 8, numPartitions=8).mapInPandas(
        _probe, "module string, rereads long"
    )
    rows = df.collect()
    assert len(rows) == 8
    assert {r.module for r in rows} == {"kiri_ocr_spark.daemon"}
    assert [r.rereads for r in rows] == [0] * 8


def test_get_spark_keeps_spark_defaults_it_relies_on(spark):
    """AQE with partition coalescing and skew-join splitting, and 128 MiB
    file splits, come from Spark's own defaults in a get_spark session."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.files.maxPartitionBytes") in ("134217728b", "128m")
