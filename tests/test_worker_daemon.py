"""The worker daemon's zip importer re-reads an archive only when it changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from warp_pipes_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    worker_daemon._read is None, reason="zipimporter.invalidate_caches is 3.10+"
)


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("wd_probe_mod.py", f"VALUE = {value!r}\n")


def test_invalidate_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "wd_probe_mod", raising=False)
    assert importlib.import_module("wd_probe_mod").VALUE == 1

    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # a directory the shared cache dropped is read again
    zipimport._zip_directory_cache.pop(archive)
    importlib.invalidate_caches()
    assert reads == [archive]

    mtime = os.stat(archive).st_mtime_ns
    _write_zip(archive, "v2 is longer")
    os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
    importlib.invalidate_caches()
    del sys.modules["wd_probe_mod"]
    assert importlib.import_module("wd_probe_mod").VALUE == "v2 is longer"
