"""Host readings taken from outside the library: the benchmark's own process
tree (CPU seconds, summed RSS), a calibration spin and the steal share.

Everything is read from ``/proc``; nothing on the host is changed.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (driver, JVM, Python workers)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU of the tree, including reaped children of its members."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21])
    return total * _PAGE / 2**20


class TreeSampler:
    """Samples the tree's summed RSS every ``period`` seconds on a thread;
    ``take_peak`` returns the peak since the previous call."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_mb(process_tree())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def take_peak(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    @staticmethod
    def cpu() -> float:
        return tree_cpu_s(process_tree())

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def steal_pct(since: tuple[int, int]) -> float:
    """Steal share of all CPUs since a ``cpu_times()`` reading."""
    t, s = cpu_times()
    return round(100.0 * (s - since[1]) / (t - since[0]), 2) if t > since[0] else 0.0


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def host_reading(reps: int = 5) -> dict:
    """Calibration spin (best of ``reps``: 40 sorts of 100k int64, ~20-60 ms
    on the reference host depending on its speed period) and the steal share
    of all CPUs while it ran. Reported beside the metrics, never among them."""
    a = np.random.default_rng(0).integers(0, 1 << 30, 100_000)
    t0 = cpu_times()
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        for _ in range(40):
            np.sort(a)
        best = min(best, time.perf_counter() - t)
    return {"spin_ms": round(best * 1000, 2), "steal_pct": steal_pct(t0),
            "loadavg": round(os.getloadavg()[0], 2)}


def heap_gb() -> int:
    """Driver heap from host memory: 40% of MemTotal, 2-8 GB. The 2**30-bit
    filter's merge tree holds several 128 MiB rows per task in the JVM; a
    4 GB heap ran out once on a 15 GB host."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return int(min(8, max(2, kb / 2**20 * 0.4)))


def cores() -> int:
    return len(os.sched_getaffinity(0))
