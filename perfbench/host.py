"""Host gauge and process-tree memory sampling, read from /proc only.

The gauge is reported beside the metrics so a slow window on a shared host
can be recognised; it is never used to normalise a metric.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loop_rate_mops(n: int = 2_000_000) -> float:
    """Iterations per microsecond of a fixed single-core Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * 7) & 0xFFFF
    return n / (time.perf_counter() - t0) / 1e6


class HostGauge:
    """nproc, loop rate at start and end, and the steal share of all CPU
    time between the two (``/proc/stat`` field 8)."""

    def __init__(self) -> None:
        self.nproc = len(os.sched_getaffinity(0))
        self.loop_start = loop_rate_mops()
        self._j0 = _cpu_jiffies()

    def finish(self) -> dict:
        j1 = _cpu_jiffies()
        delta = [b - a for a, b in zip(self._j0, j1)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "nproc": self.nproc,
            "loop_mops_start": round(self.loop_start, 3),
            "loop_mops_end": round(loop_rate_mops(), 3),
            "steal_pct": round(100.0 * steal / total, 3),
            "busy_pct": round(100.0 * (total - delta[3] - delta[4]) / total, 2),
            "loadavg": open("/proc/loadavg").read().split()[:3],
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        for child in kids.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _stat(pid: int) -> tuple[str, int]:
    """(command name, parent pid) of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    head, tail = stat.rsplit(")", 1)
    return head.split("(", 1)[1], int(tail.split()[1])


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident MB of ``root`` and its descendants, summed per command name.

    A child of the JVM that is still named java is a helper the JVM is
    spawning (posix_spawn, before its exec): it shares the JVM's memory, and
    counting it would count the whole JVM twice, so it is skipped."""
    out: dict[str, float] = {}
    for pid in [root, *descendants(root)]:
        try:
            name, ppid = _stat(pid)
            if name == "java" and _stat(ppid)[0] == "java":
                continue
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + pages * _PAGE / 2**20
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers), sampled on a background thread while active.
    Each active period's peak is appended to ``peaks_mb``."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peaks_mb: list[float] = []
        self.peak_by_name: dict[str, float] = {}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        by_name = tree_rss_mb(os.getpid())
        total = sum(by_name.values())
        self.peaks_mb[-1] = max(self.peaks_mb[-1], total)
        if total > self.peak_mb:
            self.peak_mb = total
            self.peak_by_name = {k: round(v, 1) for k, v in by_name.items()}

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active.is_set():
                self._sample()

    def active(self, on: bool) -> None:
        if on:
            self.peaks_mb.append(0.0)
            self._sample()
            self._active.set()
        else:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
