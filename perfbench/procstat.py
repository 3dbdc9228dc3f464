"""CPU time and resident memory of this process's whole tree, from /proc.

Spark's own ``executorCpuTime`` misses the Python decode workers and the
Python side of the Spark driver, so the benchmark reads the kernel's
accounting for every process descended from itself: the Python driver, the
JVM, the Python daemon and its workers.
"""

from __future__ import annotations

import os
import threading

from tools.isolation import _proc_info

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid, _comm in _proc_info():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for p in tree_pids() if pids is None else pids:
        s = _read(f"/proc/{p}/stat")
        if s is not None:
            # the command name is parenthesised and may hold spaces; fields
            # 14-17 of /proc/<pid>/stat are utime stime cutime cstime
            total += sum(int(x) for x in s[s.rindex(")") + 2:].split()[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        s = _read(f"/proc/{p}/statm")
        if s is not None:
            total += int(s.split()[1])  # resident pages
    return total * _PAGE / 1e6


class RssSampler:
    """Samples the tree's summed RSS in a background thread; ``peak_mb``
    is the largest sum seen while running.

    Each sample reads only the ``statm`` of the tree's known processes. The
    tree itself is re-listed every ``refresh`` seconds, so Python workers
    started during the pass are picked up without walking all of /proc on
    every sample."""

    def __init__(self, interval: float = 0.25, refresh: float = 1.0) -> None:
        self.interval = interval
        self.every = max(1, round(refresh / interval))
        self.peak_mb = 0.0
        self._pids = tree_pids()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while True:
            n += 1
            if n % self.every == 0:
                self._pids = tree_pids()
            self.peak_mb = max(self.peak_mb, rss_mb(self._pids))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(tree_pids()))
