"""CPU and resident memory of this process and all its descendants, read
from ``/proc`` (psutil is not a dependency).

The tree is the benchmark's own Python driver, the Spark driver JVM it
launches, and the Python daemon and workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name (field 2) may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (cutime/cstime), so a worker that exits between two readings still
    counts through its parent."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # after ')': state=0 ppid=1 … utime=11 stime=12 cutime=13 cstime=14
            ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / _CLK_TCK


class PeakRss:
    """Samples the tree's summed RSS on a background thread; use as a
    context manager around the interval whose peak is wanted. The pid
    list is rescanned every ``rescan`` samples, so a sample costs one
    ``statm`` read per process rather than a walk of ``/proc``."""

    def __init__(self, interval_s: float = 0.1, rescan: int = 10):
        self.interval_s = interval_s
        self.rescan = rescan
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:  # exited since the last rescan
                continue
        return total

    def _run(self) -> None:
        n = 0
        pids: list[int] = []
        while True:
            if n % self.rescan == 0:
                pids = tree_pids()
            n += 1
            self.peak = max(self.peak, self._sample(pids))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self._sample(tree_pids()))
