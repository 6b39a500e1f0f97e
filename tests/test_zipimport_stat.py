"""The zipimport stat check installed by the package ``__init__``: an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import go_boilerpipe_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["gbs_zmod_a"])
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("gbs_zmod_a", "gbs_zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def _count_reads(monkeypatch, path):
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert go_boilerpipe_spark.install_zipimport_stat_check()
    assert importlib.import_module("gbs_zmod_a").NAME == "gbs_zmod_a"
    reads = _count_reads(monkeypatch, archive)
    # the importer has no stamp yet: its first invalidation re-reads the
    # archive and records one (a worker's second task)
    importlib.invalidate_caches()
    assert reads == [archive]

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]

    # one more module: the size changes, so the next invalidation re-reads
    _write_zip(archive, ["gbs_zmod_a", "gbs_zmod_b"])
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importlib.import_module("gbs_zmod_b").NAME == "gbs_zmod_b"


def test_install_is_idempotent():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert go_boilerpipe_spark.install_zipimport_stat_check()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.stat_checked


def test_pyfiles_zip_ships_bytecode(tmp_path):
    """A worker imports the package from the shipped zip without compiling
    any of its modules: each ``.py`` has an unchecked-hash ``.pyc`` beside
    it."""
    import subprocess

    from go_boilerpipe_spark.pyfiles import build_pyfiles_zip

    path = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
    code = f"""
import builtins, sys

def refuse(source, filename, *args, **kwargs):
    raise AssertionError(f"compiled {{filename}}")

builtins.compile = refuse
sys.path.insert(0, {path!r})
import go_boilerpipe_spark.kernel.document as document
assert document.__file__ == {path!r} + "/go_boilerpipe_spark/kernel/document.pyc"
assert document.extract_content("<p>" + "word " * 40 + "</p>")
"""
    out = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
