"""Host context read from /proc: CPU busy and steal shares over a window,
and the peak resident memory of this process tree (driver, JVM and
Python workers).

Memory is summed as Pss (each resident page split evenly among the
processes sharing it): Python workers are forks of one daemon, and the
JVM forks helper commands, so summing plain RSS would count shared
pages once per process and jump whenever a fork is in flight."""

from __future__ import annotations

import os
import threading


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies of the whole host."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), vals[3] + vals[4], steal


def cpu_window(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> dict[str, float]:
    total = t1[0] - t0[0]
    if total <= 0:
        return {"busy_pct": 0.0, "steal_pct": 0.0}
    idle, steal = t1[1] - t0[1], t1[2] - t0[2]
    return {
        "busy_pct": 100.0 * (total - idle - steal) / total,
        "steal_pct": 100.0 * steal / total,
    }


def _parents() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out.extend(kids)
        frontier.extend(kids)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory_bytes(root: int) -> int:
    return sum(_pss_bytes(p) for p in [root, *descendants(root)])


class MemorySampler(threading.Thread):
    """Polls the summed Pss of this process tree and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._done.is_set():
            self.peak = max(self.peak, tree_memory_bytes(root))
            self._done.wait(self.interval)

    def stop(self) -> float:
        """Stop polling; returns the peak in MiB."""
        self._done.set()
        self.join()
        return self.peak / 2**20
