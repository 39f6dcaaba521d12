"""``session._archive_reuse``: the installer a Python task calls first
so that PySpark's per-task ``importlib.invalidate_caches()`` stops
re-reading unchanged archives."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from graph_etl_spark.session import _archive_reuse


def test_archive_reuse_rereads_only_changed_archives(tmp_path, monkeypatch):
    """An unchanged archive is not re-read; a module added to it after
    the first import is importable after ``invalidate_caches()``."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("archive_reuse_probe_a.py", "VALUE = 1\n")
    # the swap is process-wide: restore the class attribute afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("archive_reuse_probe_a", "archive_reuse_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import archive_reuse_probe_a

    assert archive_reuse_probe_a.VALUE == 1
    reads, read = [], zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
    )
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # the stock importer re-reads it
    _archive_reuse()()
    _archive_reuse()()  # once per process: a second call changes nothing
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("archive_reuse_probe_b.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import archive_reuse_probe_b

    assert archive_reuse_probe_b.VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
