"""The stat-keyed zipimporter directory cache installed by
``lucene_spark/__init__.py``.

PySpark workers call ``importlib.invalidate_caches()`` on every task; before
CPython 3.12 that re-read the central directory of every zip archive on
``sys.path`` (``pyspark.zip`` once per cached package importer). With the
fix an unchanged archive is not re-read, a rewritten one still is."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import lucene_spark

needs_fix = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 reloads zip directories lazily; no fix installed")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zfix_a`` on sys.path, imported once, plus a
    recorder of the archives whose directory gets re-read."""
    zp = str(tmp_path / "pkg.zip")
    _write_zip(zp, {"zfix_a": "X = 1\n"})
    monkeypatch.syspath_prepend(zp)
    for m in ("zfix_a", "zfix_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("zfix_a").X == 1
    reads = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield zp, reads
    sys.path_importer_cache.pop(zp, None)
    for m in ("zfix_a", "zfix_b"):
        sys.modules.pop(m, None)


@needs_fix
def test_unchanged_zip_is_not_reread(zip_on_path):
    zp, reads = zip_on_path
    importlib.invalidate_caches()  # records the archive's stat key
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert zp not in reads
    # control: the stock method re-reads on every call
    zipimport.zipimporter.invalidate_caches._orig(
        sys.path_importer_cache[zp])
    assert reads.count(zp) == 1


@needs_fix
def test_rewritten_zip_is_reread(zip_on_path):
    zp, reads = zip_on_path
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(zp, {"zfix_a": "X = 1\n", "zfix_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zp in reads
    assert importlib.import_module("zfix_b").Y == 2


def test_fix_is_skipped_on_312_and_installs_once(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    stock = getattr(current, "_orig", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    assert not lucene_spark._install_zip_directory_cache((3, 12, 0))
    assert zipimport.zipimporter.invalidate_caches is stock
    assert lucene_spark._install_zip_directory_cache((3, 11, 7))
    assert zipimport.zipimporter.invalidate_caches is not stock
    assert not lucene_spark._install_zip_directory_cache((3, 11, 7))
