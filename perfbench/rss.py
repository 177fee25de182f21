"""Peak resident memory of this process and everything it started: the
driver Python, the JVM and the JVM's Python workers.

For each live process a background thread reads VmHWM (its own peak) from
/proc; the reported peak is the largest sum over one sample. Processes that
exit between samples keep only what the last sample saw.

Only those three kinds of process count: this process, the JVM it
launched, and processes running `pyspark` modules. A helper the JVM forks
to run a shell command carries the JVM's command line and whole resident
set until it execs, which would count the JVM twice.
"""

from __future__ import annotations

import os
import threading


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _counted(pid: int, ppid: int) -> bool:
    if pid == os.getpid():
        return True
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return False
    if b"org.apache.spark.deploy.SparkSubmit" in cmd:
        return ppid == os.getpid()
    return b"pyspark" in cmd


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of `root` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # ppid is the 2nd field after the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root, 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo += [(child, pid) for child in children.get(pid, [])]
    return out


class PeakRss:
    """`with PeakRss() as m: ...; m.peak_mb`"""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kb = sum(
            _status_kb(pid, "VmHWM:")
            for pid, ppid in _tree(os.getpid())
            if _counted(pid, ppid)
        )
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
