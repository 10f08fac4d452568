"""Process-tree resource sampling: peak resident memory and CPU time of
this process and every descendant (Spark JVM, Python workers)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds) of ``pid``, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            tail = fh.read().rsplit(")", 1)[1].split()
        return int(tail[1]), (int(tail[11]) + int(tail[12])) / _TICK
    except (OSError, ValueError, IndexError):
        return None


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


def tree(root: int) -> dict[int, float]:
    """pid -> cpu seconds for ``root`` and all its descendants."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1]
        todo.extend(children.get(pid, ()))
    return out


class TreeMonitor(threading.Thread):
    """Samples the tree every ``interval`` seconds until ``stop()``.
    CPU time of a process that exits between samples is counted up to
    its last sample."""

    def __init__(self, interval: float = 0.25):
        super().__init__(name="tree-monitor", daemon=True)
        self.interval = interval
        self.root = os.getpid()
        self.peak_rss = 0
        self.cpu: dict[int, float] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        pids = tree(self.root)
        self.peak_rss = max(self.peak_rss, sum(_rss(p) for p in pids))
        for pid, cpu in pids.items():
            self.cpu[pid] = max(self.cpu.get(pid, 0.0), cpu)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)
        self.sample()

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu.values())
