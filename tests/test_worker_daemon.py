"""The engine's Python worker daemon (`worker_daemon.py`).

Spark calls `importlib.invalidate_caches()` before every Python task; the
daemon's zip importer re-reads an archive's directory only when the archive
changed on disk. These tests pin that importer, that real workers use it,
that importing the module stays silent on stdout (the daemon's stdout
carries its port to the JVM), and that every session in the repo is built
by `get_spark`, the one place that selects the daemon.
"""

from __future__ import annotations

import importlib
import os
import re
import subprocess
import sys
import zipfile
import zipimport

from tutorial_apache_beam_spark.worker_daemon import StampedZipImporter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("stamped_mod.py", f"def f():\n    return {body}\n")


def test_stamped_importer_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "1")
    importer = StampedZipImporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    monkeypatch.syspath_prepend(archive)
    base_calls = []
    base = zipimport.zipimporter.invalidate_caches

    def counting(self):
        if self.archive == archive:
            base_calls.append(self.archive)
        return base(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    try:
        mod = importlib.import_module("stamped_mod")
        assert mod.f() == 1

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert base_calls == []

        # Rewritten in place (same inode); the longer body changes the
        # size, so the stamp differs even on a coarse-mtime file system.
        _write_zip(archive, "2  # rewritten")
        importlib.invalidate_caches()
        assert base_calls == [archive]
        assert importlib.reload(mod).f() == 2
        importlib.invalidate_caches()
        assert base_calls == [archive]

        # A missing archive counts as changed on every call, never raises.
        os.remove(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert base_calls == [archive] * 3
        assert importer.find_spec("stamped_mod") is None
    finally:
        sys.modules.pop("stamped_mod", None)


def test_workers_use_stamped_zip_importers(spark):
    """Every zip importer a real Python worker holds is the daemon's."""
    import pandas as pd

    def importer_classes(batches):
        import sys as wsys
        import zipimport as wzip

        classes = sorted(
            {
                f"{type(f).__module__}.{type(f).__qualname__}"
                for f in wsys.path_importer_cache.values()
                if isinstance(f, wzip.zipimporter)
            }
        )
        plain = sum(
            type(f) is wzip.zipimporter
            for f in wsys.path_importer_cache.values()
        )
        for _ in batches:
            yield pd.DataFrame({"classes": [",".join(classes)], "plain": [plain]})

    row = (
        spark.range(1)
        .mapInPandas(importer_classes, "classes string, plain long")
        .collect()[0]
    )
    assert row.classes, "worker holds no zip importer"
    assert row.plain == 0, row.classes
    assert row.classes.endswith("StampedZipImporter"), row.classes


def test_import_is_silent_and_does_not_start_the_manager():
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", "import tutorial_apache_beam_spark.worker_daemon"],
        capture_output=True,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert proc.stdout == b""


def test_sessions_are_built_only_by_get_spark():
    """A session built elsewhere would run its workers without the daemon."""
    paths = [os.path.join(REPO, f) for f in ("bench.py", "demo1.py", "demo2.py")]
    for scope in ("tutorial_apache_beam_spark", "tools", "perfbench"):
        for d, _, files in os.walk(os.path.join(REPO, scope)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    session_py = os.path.join(REPO, "tutorial_apache_beam_spark", "session.py")
    assert session_py in paths
    offenders = []
    for path in paths:
        with open(path) as fh:
            if path != session_py and re.search(
                r"SparkSession\s*\.\s*builder", fh.read()
            ):
                offenders.append(os.path.relpath(path, REPO))
    assert offenders == []
