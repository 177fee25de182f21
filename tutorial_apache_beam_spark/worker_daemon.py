"""Python worker daemon: pyspark.daemon with zip importers that re-read on change.

Spark runs ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark/worker_util.py`` ``setup_spark_files``), reused workers
included. On CPython 3.11 ``zipimporter.invalidate_caches`` eagerly re-reads
the archive's whole central directory, and a worker holds one importer per
package imported from ``pyspark.zip`` (1,328 entries) and the Spark core jar
(5,359 entries): about 250 ms of CPU per task, before any user code runs.

``get_spark`` points ``spark.python.daemon.module`` here. The daemon swaps
in an importer that re-reads an archive only when its ``(inode, mtime,
size)`` changed, then runs Spark's own daemon; forked workers inherit the
hook. Nothing may write to stdout before the manager starts: the daemon's
stdout carries its port to the JVM.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` skips unchanged archives.

    A missing archive always counts as changed, so the base method runs and
    drops the directory as it would for a plain zipimporter.
    """

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _stamp(self.archive)

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Use ``StampedZipImporter`` for every zip path entry from now on."""
    sys.path_hooks[:] = [
        StampedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[entry]


if __name__ == "__main__":
    install()
    from pyspark import daemon  # after install(): its imports use the hook

    daemon.manager()
