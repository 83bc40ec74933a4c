"""Process-tree CPU and memory, and host noise, read from ``/proc``.

The benchmark's process tree is the Spark driver's Python process, the JVM it
launches and the Python workers the JVM forks. CPU time is utime +
stime of every live member plus the cutime + cstime it has collected
from children that exited; steal never counts toward it. Host noise is
the share of all CPU ticks spent in steal and iowait between two
snapshots, and the load average.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it do not
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie waiting to be reaped has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _pss_kb(pid: int) -> int:
    """Proportional set size: forked Python workers share most of their
    pages with the daemon they fork from, which plain RSS counts once per
    worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree(root: int) -> dict[int, int]:
    """pid -> cpu ticks of ``root`` and all its descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            s = _stat(pid)
            if s is not None:
                stats[int(pid)] = s
    members, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in members:
                members.add(pid)
                frontier.append(pid)
    return {p: stats[p][1] for p in members if p in stats}


def tree_cpu(root: int) -> float:
    """CPU seconds of ``root`` and its descendants."""
    return sum(tree(root).values()) / _TICK


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of the tree, MiB."""
    return sum(_pss_kb(p) for p in tree(root)) / 1024


class TreeSampler:
    """Samples the tree's memory on a background thread; ``peak()``
    returns the highest summed PSS since the last ``reset()``."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        mb = tree_pss_mb(self.root)
        with self._lock:
            self._peak = max(self._peak, mb)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0
        self.sample()

    def peak(self) -> float:
        self.sample()
        with self._lock:
            return self._peak


def host_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_noise(before: list[int], after: list[int]) -> dict:
    """Steal and iowait shares of all CPU ticks between two snapshots,
    plus the 1-minute load average at the second."""
    delta = [b - a for a, b in zip(before, after)]
    total = max(sum(delta[:8]), 1)
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "steal_share": round(delta[7] / total, 4),
        "iowait_share": round(delta[4] / total, 4),
        "load1": load1,
    }


class Clock:
    """Wall and tree-CPU of one interval."""

    def __init__(self, root: int):
        self.root = root

    def __enter__(self) -> "Clock":
        self.cpu0 = tree_cpu(self.root)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu(self.root) - self.cpu0
