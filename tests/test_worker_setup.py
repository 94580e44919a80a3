"""The package's worker-setup fix: ``importlib.invalidate_caches()``
(called by the pyspark worker at the start of every task) must not
re-read an unchanged zip archive's directory, and must still pick up
a rewritten archive."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import htmlparser_spark

STAT_CHECKED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    arch = str(tmp_path / "mods.zip")
    monkeypatch.setattr(sys, "path", [arch] + sys.path)
    yield arch
    for name in ("zipmod_first", "zipmod_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(arch, None)


def test_invalidate_caches_skips_unchanged_archive(zip_on_path,
                                                   monkeypatch):
    arch = zip_on_path
    _write_zip(arch, {"zipmod_first": "X = 1\n"})
    assert importlib.import_module("zipmod_first").X == 1
    assert isinstance(sys.path_importer_cache[arch], zipimport.zipimporter)

    reads = []
    if STAT_CHECKED:
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        monkeypatch.setattr(zipimport, "_read_directory", counting)

    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert arch not in reads          # unchanged archive: not re-read

    # rewritten archive (new module, new size): re-read, importable
    _write_zip(arch, {"zipmod_first": "X = 1\n",
                      "zipmod_second": "Y = 2\n"})
    importlib.invalidate_caches()
    if STAT_CHECKED:
        assert reads.count(arch) == 1
    assert importlib.import_module("zipmod_second").Y == 2


def test_zip_check_is_idempotent_and_version_gated(monkeypatch):
    cls = zipimport.zipimporter
    installed = cls.invalidate_caches
    if not STAT_CHECKED:
        assert not getattr(installed, "_stat_checked", False)
        return
    assert installed._stat_checked
    htmlparser_spark._skip_unchanged_zip_rereads()
    assert cls.invalidate_caches is installed          # no double wrap

    stdlib = installed.__wrapped__
    monkeypatch.setattr(cls, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    htmlparser_spark._skip_unchanged_zip_rereads()
    assert cls.invalidate_caches is stdlib             # 3.13+: no-op


@pytest.mark.skipif(not STAT_CHECKED, reason="patch only below 3.13")
def test_missing_archive_falls_back_to_stdlib(tmp_path):
    arch = tmp_path / "gone.zip"
    _write_zip(arch, {"zipmod_gone": "Z = 3\n"})
    imp = zipimport.zipimporter(str(arch))
    arch.unlink()
    imp.invalidate_caches()            # stdlib path: empties the dir
    assert imp._files == {}
