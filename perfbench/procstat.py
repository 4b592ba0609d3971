"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is this benchmark process, the Spark driver JVM it launches and
the Python workers that JVM forks.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, tuple[int, float, int]]:
    """pid → (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listdir and open
        f = raw[raw.rindex(")") + 2:].split()
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK
        out[int(name)] = (int(f[1]), cpu, int(f[21]) * _PAGE)
    return out


def _subtree(stats: dict, root: int) -> list[int]:
    """``root`` and every descendant of it in ``stats``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_usage() -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over this process and its descendants."""
    stats = _read_stats()
    tree = [stats[p] for p in _subtree(stats, os.getpid()) if p in stats]
    return sum(t[1] for t in tree), sum(t[2] for t in tree)


def descendants() -> list[int]:
    """Every live descendant of this process."""
    return _subtree(_read_stats(), os.getpid())[1:]


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


class PeakRss:
    """Samples the tree's total RSS on a background thread; ``peak`` is the
    largest total seen between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage()[1])
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
