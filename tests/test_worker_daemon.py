"""The worker daemon's stamp-checked zipimporter cache invalidation: an
unchanged archive is not re-read, a rewritten one is."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from realtime_spark import worker_daemon


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("rs_zipmod_a.py", "X = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    reads: list[str] = []
    reread = worker_daemon._reread

    def counted(self):
        reads.append(self.archive)
        reread(self)

    monkeypatch.setattr(worker_daemon, "_reread", counted)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("rs_zipmod_a", "rs_zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("rs_zipmod_a").X == 1
    importlib.invalidate_caches()  # first call stamps the importer
    first = len(reads)
    assert first >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == first  # unchanged archive: no re-read

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("rs_zipmod_b.py", "Y = 2\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert len(reads) > first
    assert importlib.import_module("rs_zipmod_b").Y == 2


def test_missing_archive_reads_as_empty(tmp_path, monkeypatch):
    archive = tmp_path / "gone.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("rs_zipmod_c.py", "Z = 3\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    assert imp.find_spec("rs_zipmod_c") is not None
    archive.unlink()
    imp.invalidate_caches()
    assert imp.find_spec("rs_zipmod_c") is None
