"""Host-side probes read from ``/proc``: CPU-time shares (steal, sys,
iowait) over a window, and the peak resident memory of this process and
every process it started (the driver JVM and its Python workers).

Resident memory is summed as PSS (``smaps_rollup``), which splits a shared
page between the processes that map it: a child forked from the JVM shares
the JVM's whole heap until it execs, and summed RSS would count that heap
twice for the moment the sample lands there."""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Optional


def cpu_times() -> List[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:]]


def cpu_shares(before: List[int], after: List[int]) -> Dict[str, float]:
    """Percent of all CPU time between two ``cpu_times`` snapshots spent
    stolen by the hypervisor, in the kernel and waiting on I/O."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8]) or 1  # user nice system idle iowait irq softirq steal
    return {
        "steal_pct": round(100.0 * delta[7] / total, 3),
        "sys_pct": round(100.0 * delta[2] / total, 3),
        "iowait_pct": round(100.0 * delta[4] / total, 3),
    }


def descendants(root: int) -> List[int]:
    """Pids of ``root`` and all its live descendants."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory (PSS) of the process tree on a
    background thread until ``stop``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._done = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def sample(self) -> None:
        total = sum(pss_kb(p) for p in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._done.wait(self.interval_s):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._done.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
