"""Peak resident memory of this process tree, sampled from /proc.

The tree is this process plus every descendant (Spark's JVM and its
Python workers), minus the pids given in ``exclude`` (the load
generator, which is not part of the system under test).
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after it
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def tree_rss_bytes(root: int, exclude: set[int]) -> int:
    parents = _parents()
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        stack.extend(children.get(pid, ()))
    return total


class PeakRSS:
    """Samples the tree every ``interval`` seconds on a daemon thread."""

    def __init__(self, exclude: set[int], interval: float = 0.25) -> None:
        self.interval = interval
        self.exclude = set(exclude)
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root, self.exclude))
            self.samples += 1
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling; ``peak`` and ``samples`` stay as they are."""
        self._stop.set()
        self._thread.join()

    def __exit__(self, *exc) -> None:
        self.stop()
