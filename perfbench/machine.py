"""Machine conditions and process-tree cost, read from ``/proc``.

The benchmark's Python process starts the Spark JVM, which in turn
starts the PySpark worker daemon; CPU and memory are summed over that
whole tree. Times are in milliseconds of CPU, memory in MiB.
"""

from __future__ import annotations

import os

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we listed
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_ms(pids: list[int]) -> float:
    """User+system CPU of ``pids`` plus their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total * _TICK_MS


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's resident-set high-water mark (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class CpuShares:
    """Steal and iowait shares of all CPU ticks between construction
    and :meth:`read`, from the aggregate ``cpu`` line of /proc/stat."""

    def __init__(self) -> None:
        self._start = self._ticks()

    @staticmethod
    def _ticks() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def read(self) -> dict[str, float]:
        d = [b - a for a, b in zip(self._start, self._ticks())]
        total = sum(d[:8]) or 1  # user..steal; guest is inside user
        return {"steal_share": d[7] / total, "iowait_share": d[4] / total}


def load() -> dict[str, float]:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    running = 0
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("procs_running"):
                running = int(line.split()[1])
    return {"load1": load1, "procs_running": running}
