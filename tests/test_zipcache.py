"""zipcache: a zip archive's directory is re-read only when the archive
changed, and the stdlib contract of invalidate_caches still holds."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ai_intel_web_scraper_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["mod_a"])
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("mod_a", "mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch):
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("mod_a").NAME == "mod_a"
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    importlib.import_module("mod_a")
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["mod_a", "mod_b"])
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    assert importlib.import_module("mod_b").NAME == "mod_b"


def test_left_untouched_on_cpython_313(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipcache._ORIGINAL)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._ORIGINAL


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 re-reads lazily; nothing installed")
def test_active_in_python_workers(spark):
    # nested, so cloudpickle ships it by value: the worker imports the
    # package only through the body, as for any package UDF
    @F.pandas_udf("boolean")
    def patched(s: pd.Series) -> pd.Series:
        import zipimport as zi

        from ai_intel_web_scraper_spark import zipcache as zc
        return pd.Series([zi.zipimporter.invalidate_caches
                          is zc._invalidate_caches] * len(s))

    df = spark.range(0, 64, numPartitions=4)
    for _ in range(2):
        flags = [r[0] for r in df.select(patched("id")).collect()]
        assert len(flags) == 64 and all(flags)
