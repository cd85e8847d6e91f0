"""The stat-checked ``zipimporter.invalidate_caches`` the engine package
installs in Spark Python workers on CPython < 3.12: an unchanged archive
is not re-read, a replaced one is re-read once and serves its new
content, a deleted one does not raise; and the install happens in
workers only, never in the driver."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import ocr_award_extractor_spark as pkg

pytestmark = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 12),
    reason="zipimport re-reads lazily from CPython 3.12 on (gh-103200)")

MODULE = "zipstat_probe_mod"
ENGINE_FN = "ocr_award_extractor_spark._stat_checked.<locals>.invalidate_caches"


def _write_zip(path: str, body: str) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{MODULE}.py", body)
    os.replace(tmp, path)


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """(archive path, list of its directory reads) with the stat check
    installed and the archive on sys.path."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pkg._stat_checked(zipimport.zipimporter.invalidate_caches))
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    sys.modules.pop(MODULE, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zipped):
    path, reads = zipped
    assert importlib.import_module(MODULE).VALUE == 1
    importlib.invalidate_caches()  # first call records the stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_replaced_archive_is_reread_once(zipped):
    path, reads = zipped
    assert importlib.import_module(MODULE).VALUE == 1
    importlib.invalidate_caches()
    _write_zip(path, "VALUE = 22\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]
    del sys.modules[MODULE]
    assert importlib.import_module(MODULE).VALUE == 22


def test_deleted_archive_does_not_raise(zipped):
    path, _reads = zipped
    importlib.import_module(MODULE)
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[path]._files == {}


def test_installed_in_workers_not_in_driver(spark):
    """Two jobs through a mapInPandas that imports the engine package:
    every task, on fresh and reused workers alike, sees the engine's
    invalidate_caches; the driver, which imported the package with no
    TaskContext, keeps the stdlib one."""

    def report(batches):
        import zipimport

        import pandas as pd

        import ocr_award_extractor_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({"fn": [f"{fn.__module__}.{fn.__qualname__}"]})

    frame = spark.range(0, 8, numPartitions=2).mapInPandas(report, "fn string")
    for _ in range(2):
        assert [r.fn for r in frame.collect()] == [ENGINE_FN] * 2
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
