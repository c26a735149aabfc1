"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is the benchmark's own process plus every descendant: the JVM
that PySpark launches and the Python daemon and workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss(root: int) -> int:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # the command name may hold spaces; fields restart after its ')'
        parent[int(name)] = int(stat[stat.rfind(b")") + 2:].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree every ``interval`` seconds between ``start`` and
    ``stop``; ``peak_mb`` is the largest sum seen."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss(self.root))
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
