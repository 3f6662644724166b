"""CPU and resident memory of this process and everything it started
(the driver JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:  # the process ended while we looked
        pass
    return out


def tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo += _children(p)
    return pids


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including children it has reaped."""
    total = 0
    for p in tree(root):
        f = _stat(p)
        if f:  # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in f[11:15])
    return total / _TICK


def rss_mb(root: int) -> float:
    total = 0
    for p in tree(root):
        f = _stat(p)
        if f:
            total += int(f[21])  # field 24: rss in pages
    return total * _PAGE / 1e6


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


class PeakRss:
    """Samples the summed RSS of the tree on a background thread."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, rss_mb(self.root))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(self.root))
