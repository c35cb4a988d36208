"""CPU time and resident memory of this process and all its descendants.

The JVM is a child of the benchmark's Python process and
the Python workers are children of the JVM, so the tree rooted at
``os.getpid()`` is everything the program runs. Read from ``/proc``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited while we listed it
        return None
    # field 2 is "(comm)" and may contain spaces: split after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[str, list[str]]:
    """Stat fields (from field 3 on) of every process in the tree."""
    stats = {}
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
                children.setdefault(st[1], []).append(pid)
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Pids of every process below this one."""
    return [int(p) for p in _tree() if int(p) != os.getpid()]


def cpu_seconds() -> float:
    """User + system CPU of the tree, including reaped children."""
    # fields 14-17 (utime stime cutime cstime) are 11-14 after the split
    return sum(
        sum(int(x) for x in st[11:15]) for st in _tree().values()
    ) / _TICK


def rss_mb(skip: int | None = None) -> float:
    """Resident memory of the tree, leaving out process ``skip``."""
    # field 24 (rss, pages) is index 21 after the split
    return sum(
        int(st[21]) for pid, st in _tree().items() if int(pid) != skip
    ) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's total RSS on a thread; ``peak`` is the maximum
    seen since ``start``. Used as ``with PeakRss() as p: ...``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_mb())
