"""The stat-checked zip directory refresh (flink_mingo_tail_spark/_zipcache.py):
an unchanged archive on ``sys.path`` is not re-read by
``importlib.invalidate_caches()``, a changed one is, and Spark's Python
workers that run package code have it installed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from flink_mingo_tail_spark import _zipcache

pytestmark = pytest.mark.skipif(
    not _zipcache._EAGER, reason="this CPython refreshes zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``zc_first`` on ``sys.path``, imported once."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_first", "zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_first").X == 1
    yield archive
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread_and_changed_one_is(zip_on_path, monkeypatch):
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first refresh reads and stamps
    reads.clear()
    importlib.invalidate_caches()
    assert zip_on_path not in reads

    _write_zip(zip_on_path, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zip_on_path in reads
    assert importlib.import_module("zc_second").Y == 2


def test_second_install_leaves_the_same_function():
    _zipcache.install()
    first = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is first is _zipcache._invalidate_caches


def test_spark_python_worker_runs_the_stat_checked_refresh(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        from flink_mingo_tail_spark import _zipcache

        installed = zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"installed": [installed]})

    rows = spark.range(1).mapInPandas(report, "installed boolean").collect()
    assert [r.installed for r in rows] == [True]
