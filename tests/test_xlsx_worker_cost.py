"""Per-call fixed costs of the XLSX source: the zip-directory guard that
the source installs in Spark Python workers, and the read helpers'
register-once memo."""

from __future__ import annotations

import importlib
import os
import sys
import weakref
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from sheetreader_duckdb_spark.sources.xlsx.datasource import (
    _guard_zip_directory_reads,
)

DEMO_XLSX = os.path.join(os.path.dirname(__file__), "fixtures", "demo.xlsx")

needs_eager_zip_reads = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="the guard is only installed below CPython 3.12",
)


@pytest.fixture
def stock_zipimporter():
    """Restore the stock ``zipimporter.invalidate_caches`` after the test,
    so an installed guard never leaks into the rest of the run."""
    original = zipimport.zipimporter.invalidate_caches
    try:
        yield original
    finally:
        zipimport.zipimporter.invalidate_caches = original


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives whose central directory ``zipimport`` reads, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_archive(path: str, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value}\n")


@needs_eager_zip_reads
def test_unchanged_archive_keeps_its_directory(
    tmp_path, monkeypatch, stock_zipimporter, directory_reads
):
    archive = str(tmp_path / "mods.zip")
    _write_archive(archive, {"zg_keep_a": 1})
    importer = zipimport.zipimporter(archive)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)

    _guard_zip_directory_reads()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded is not stock_zipimporter
    _guard_zip_directory_reads()  # at most once per process
    assert zipimport.zipimporter.invalidate_caches is guarded

    del directory_reads[:]
    importer.invalidate_caches()  # first guarded call: no stamp yet
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert directory_reads == [archive]
    assert importer.find_spec("zg_keep_a") is not None


@needs_eager_zip_reads
def test_rewritten_archive_is_reread(
    tmp_path, monkeypatch, stock_zipimporter, directory_reads
):
    archive = str(tmp_path / "mods.zip")
    _write_archive(archive, {"zg_new_a": 1})
    monkeypatch.syspath_prepend(archive)
    for name in ("zg_new_a", "zg_new_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    _guard_zip_directory_reads()
    try:
        assert importlib.import_module("zg_new_a").VALUE == 1
        importlib.invalidate_caches()
        with pytest.raises(ImportError):
            importlib.import_module("zg_new_b")

        # Rewritten in place (same path and inode) with one more module.
        ino = os.stat(archive).st_ino
        _write_archive(archive, {"zg_new_a": 1, "zg_new_b": 2})
        assert os.stat(archive).st_ino == ino
        del directory_reads[:]
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == 1
        assert importlib.import_module("zg_new_b").VALUE == 2

        # A removed archive goes through the stock path: its importer
        # ends with an empty directory, as without the guard.
        importer = sys.path_importer_cache[archive]
        os.remove(archive)
        importlib.invalidate_caches()
        assert importer._files == {}
        assert importer.find_spec("zg_new_a") is None
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_guard_not_installed_in_driver_or_on_312(monkeypatch, stock_zipimporter):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    _guard_zip_directory_reads()
    assert zipimport.zipimporter.invalidate_caches is stock_zipimporter

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _guard_zip_directory_reads()
    assert zipimport.zipimporter.invalidate_caches is stock_zipimporter


def test_read_xlsx_registers_once_per_session(spark, monkeypatch):
    import sheetreader_duckdb_spark as pkg
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register

    def counting(self, cls):
        calls.append(cls)
        return real(self, cls)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    monkeypatch.setattr(pkg, "_REGISTERED", weakref.WeakSet())

    assert pkg.read_xlsx(spark, DEMO_XLSX).count() == 2
    assert pkg.read_xlsx(spark, DEMO_XLSX).count() == 2
    assert len(calls) == 1
    # An explicit register() always registers (a resize, a swapped class).
    pkg.register(spark)
    assert len(calls) == 2
    assert pkg.read_xlsx(spark, DEMO_XLSX, columns=["Name"]).count() == 2
    assert len(calls) == 2
