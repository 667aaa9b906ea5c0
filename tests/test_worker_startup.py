"""The stat-gated zip re-read that :mod:`pyrle_spark.session` installs in
PySpark Python workers: same importable set as the stock
``zipimporter.invalidate_caches``, without re-reading an unchanged
archive on every task."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from pyrle_spark.session import stat_gated_invalidate

STOCK = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Count the archive directory reads zipimport makes."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def gated(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", stat_gated_invalidate(STOCK)
    )


def test_unchanged_archive_not_reread(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zip_mod_a": 1})
    importers = [zipimport.zipimporter(path) for _ in range(3)]
    invalidate = stat_gated_invalidate(STOCK)
    try:
        for _ in range(4):
            for imp in importers:
                invalidate(imp)
        # the first call reads the directory and stamps it; every later
        # call, on any importer of the archive, takes the cached one
        assert reads == [path, path]  # construction, then the first stamp
        cached = zipimport._zip_directory_cache[path]
        assert all(imp._files is cached for imp in importers)
        # the stock method re-reads on every call
        for imp in importers:
            STOCK(imp)
        assert len(reads) == 2 + len(importers)
    finally:
        zipimport._zip_directory_cache.pop(path, None)


def test_rewritten_archive_is_reread(tmp_path, monkeypatch, reads, gated):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zip_mod_a": 1})
    monkeypatch.syspath_prepend(path)
    for name in ("zip_mod_a", "zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zip_mod_a").VALUE == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n  # unchanged: no re-read
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module("zip_mod_b")

        _write_zip(path, {"zip_mod_a": 1, "zip_mod_b": 2})
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.import_module("zip_mod_b").VALUE == 2
    finally:
        sys.modules.pop("zip_mod_a", None)
        sys.modules.pop("zip_mod_b", None)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


def _report_invalidate_caches(batches):
    import zipimport

    import pyrle_spark  # noqa: F401  (installs the gate in the worker)

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
    )


def test_gate_installed_in_workers_only(spark):
    import pyrle_spark  # noqa: F401

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_report_invalidate_caches, "module string")
        .collect()
    )
    want = "zipimport" if sys.version_info >= (3, 13) else "pyrle_spark.session"
    assert [r["module"] for r in rows] == [want]
    assert zipimport.zipimporter.invalidate_caches is STOCK
    assert STOCK.__module__ == "zipimport"
