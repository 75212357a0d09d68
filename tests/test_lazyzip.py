"""The lazy zipimport helper, with no Spark: an unchanged archive keeps its
parsed directory across ``invalidate_caches()``, a rewritten one is
re-read, and installing twice does not wrap twice."""
from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from planet_search_spark import lazyzip

EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path and imported once."""
    path = str(tmp_path / "pkg.zip")
    _write_zip(path, {"lz_mod_a": "A = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    import lz_mod_a  # noqa: F401
    yield path
    for m in ("lz_mod_a", "lz_mod_b"):
        sys.modules.pop(m, None)
    sys.path_importer_cache.pop(path, None)


def _directory(path):
    imp = sys.path_importer_cache[path]
    return imp._files if EAGER else zipimport._zip_directory_cache.get(path)


def test_install_is_idempotent(archive):
    lazyzip.install()
    once = zipimport.zipimporter.invalidate_caches
    lazyzip.install()
    assert zipimport.zipimporter.invalidate_caches is once
    if EAGER:
        assert once.eager.__name__ == "invalidate_caches"
        assert not hasattr(once.eager, "eager")


@pytest.mark.skipif(not EAGER, reason="this CPython re-reads lazily")
def test_unchanged_archive_keeps_its_directory(archive):
    lazyzip.install()
    importlib.invalidate_caches()
    files = _directory(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert _directory(archive) is files
    assert "lz_mod_a.py" in files


def test_rewritten_archive_is_reread(archive):
    lazyzip.install()
    importlib.invalidate_caches()
    before = _directory(archive)
    _write_zip(archive, {"lz_mod_a": "A = 1\n", "lz_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    if EAGER:
        assert _directory(archive) is not before
        assert "lz_mod_b.py" in _directory(archive)
    import lz_mod_b
    assert lz_mod_b.B == 2
