"""The worker daemon's zipimport patch (kafka_connect_fs_spark/daemon.py)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from kafka_connect_fs_spark import daemon


def test_worker_skips_rereading_unchanged_archive(spark):
    """In a Python task, ``importlib.invalidate_caches()`` (Spark calls it
    before every task) parses no unchanged archive's directory again."""

    def count_rereads(it):
        for _ in it:
            pass
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"importers": [importers], "reads": [len(calls)]})

    got = (
        spark.range(0, 2, 1, 2)
        .mapInPandas(count_rereads, "importers long, reads long")
        .collect()
    )
    if not any(r.importers for r in got):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [r.reads for r in got] == [0, 0]


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    """Under the patch an unchanged archive is not re-read, and an archive
    whose bytes change is."""
    if sys.version_info >= (3, 13):
        pytest.skip("the interpreter invalidates zip caches lazily; no patch")
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("kcfs_zip_probe.py", "VALUE = 1\n")
    calls: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: calls.append(a) or real(a)
    )
    restore = daemon.install()
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("kcfs_zip_probe").VALUE == 1
        assert calls.count(archive) == 1
        importlib.invalidate_caches()
        assert calls.count(archive) == 1  # unchanged: not re-read
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("kcfs_zip_probe.py", "VALUE = 2  # now longer\n")
        importlib.invalidate_caches()
        assert calls.count(archive) == 2  # changed: re-read
        del sys.modules["kcfs_zip_probe"]
        assert importlib.import_module("kcfs_zip_probe").VALUE == 2
    finally:
        restore()
        sys.path.remove(archive)
        sys.modules.pop("kcfs_zip_probe", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
