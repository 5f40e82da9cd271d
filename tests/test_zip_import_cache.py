"""Importing the package stops ``importlib.invalidate_caches()`` from
re-reading unchanged zip archives on ``sys.path`` (PySpark workers call
it before every task), while a rewritten archive is still re-read.
No Spark needed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import hadoop_brotli_spark  # noqa: F401  (installs the guard)


def test_invalidate_caches_rereads_zip_only_when_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    name = "graft_zip_probe"

    def build(body: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{name}.py", body)

    build("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).VALUE == 1
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        importlib.invalidate_caches()  # records the archive's stat
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        build("VALUE = 2  # rewritten, so size and mtime change\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        del sys.modules[name]
        assert importlib.import_module(name).VALUE == 2
    finally:
        sys.path_importer_cache.pop(str(archive), None)
