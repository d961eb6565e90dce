"""CPU time and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listdir and open
        return None
    # field 2 is "(comm)" and may hold spaces: split after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[str, list[str]]:
    """pid -> stat fields (from field 3 on) for ``root`` and every
    process below it."""
    stats, kids = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
                kids.setdefault(st[1], []).append(pid)
    out, todo = {}, [str(root)]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (a Python worker that exits is charged to its parent)."""
    total = 0
    for st in tree(root).values():
        # utime stime cutime cstime are stat fields 14..17
        total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _TICK


def rss_mb(root: int) -> float:
    """Summed resident set of the tree, MB (stat field 24, pages)."""
    return sum(int(st[21]) for st in tree(root).values()) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a daemon thread; ``peak_mb``
    is the largest sample seen. Use as a context manager."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, rss_mb(self.root))
