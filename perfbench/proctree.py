"""Process-tree memory and CPU, read from /proc.

The tree is this process and every descendant: the driver JVM that PySpark
launches and the Python workers it forks.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> dict:
    """RSS bytes per command name (java, python, ...) over the tree."""
    out: dict = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


def steal_share() -> tuple:
    """(steal ticks, all ticks) since boot, from /proc/stat: time the
    hypervisor ran someone else while this machine had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU of the live tree, including reaped children
    (a worker that exited is charged to the process that waited for it)."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


class PeakRss:
    """Samples the tree's summed RSS on a thread while active."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_comm: dict = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _sample(self):
        by_comm = tree_rss(self.root)
        total = sum(by_comm.values())
        if total > self.peak:
            self.peak, self.peak_by_comm = total, by_comm

    def _run(self):
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False
