"""Shared noise-attribution primitives for benchmarking on a multi-tenant box.

This sandbox shares its 32 cores with bursty external tenants, including
hypervisor-level CPU steal (measured up to ~20%). Lessons baked in here
(diagnosed round 1, instrumented round 2, unified round 3):

- 1-min loadavg is an EMA — a sub-minute tenant burst barely moves it, and
  it counts our own executors. Use /proc/stat deltas instead.
- A SINGLE-thread calibration spin is blind to partial occupancy: a tenant
  eating 16 of 32 cores leaves one spin thread at full speed while halving
  a local[16] run. Cleanliness of N-way work needs an N-PROCESS spin
  (processes, not threads — small NumPy calls serialize on the GIL and
  fake contention).
- Attribution must wrap EXACTLY the measured section: snapshot /proc/stat
  and our own process tree's CPU ticks around the timed window, so
  busy_cores - ours_cores = external tenant cores, and steal% catches
  hypervisor theft the guest scheduler cannot see at all.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

# cache-resident per-worker workload (800 KB x 40 sorts ~ 45 ms) so the
# parallel probe measures FREE CORES, not memory bandwidth
_CALIB = np.random.default_rng(0).integers(0, 1 << 30, 100_000, dtype=np.int64)
_REPS = 40

_CLK = os.sysconf("SC_CLK_TCK")


# bench.py appends one calibration spin per run here; the floor is the best
# spin of the last 7 days, not an all-time ratchet, so a host moved to slower
# hardware relearns its floor within a week
SPIN_FLOOR = os.path.join(".cache", "bench", "spin_floor.json")
SPIN_FLOOR_MAX_AGE_S = 7 * 86400


def spin_observations(repo: str) -> list[list[float]]:
    """THE single parser for ``SPIN_FLOOR`` under ``repo`` (bench.py is the
    writer): its [unix_ts, spin_ms] observations of the last 7 days, or []
    when the file is missing or corrupt. A legacy single-value file counts
    as one observation taken now."""
    now = time.time()
    try:
        with open(os.path.join(repo, SPIN_FLOOR)) as fh:
            data = json.load(fh)
        if "observations" not in data:  # legacy single-value format
            return [[now, float(data["spin_floor_ms"])]]
        obs = [[float(o[0]), float(o[1])] for o in data["observations"]]
    except (OSError, ValueError, KeyError, TypeError, IndexError):
        # TypeError: a JSON top-level list or a malformed entry;
        # IndexError: an entry like [] or [1.0] (o[1] missing)
        return []
    return [o for o in obs if now - o[0] < SPIN_FLOOR_MAX_AGE_S]


def _spin_worker(_i: int) -> float:
    a = _CALIB.copy()
    t0 = time.perf_counter()
    for _ in range(_REPS):
        np.sort(a)
    return (time.perf_counter() - t0) * 1000.0


def spin_ms() -> float:
    return _spin_worker(0)


def spin_ms_parallel(n_procs: int) -> float:
    """Worst per-process time of n_procs concurrent spins. Idle-host
    calibration on this VM (2026-08-16, loadavg 0.3): n=4 -> 1.33x the
    single-process time, n=16 -> 1.90x, n=32 -> 2.53x — that residual is
    all-core turbo-frequency drop, the floor any real N-core run pays. A
    tenant holding cores pushes the ratio far above those floors."""
    from multiprocessing import get_context

    with get_context("fork").Pool(n_procs) as pool:
        return max(pool.map(_spin_worker, range(n_procs)))


def clean_ratio(n_procs: int) -> float:
    """Idle-floor threshold for n concurrent cores (calibration above + slop)."""
    if n_procs <= 4:
        return 1.8
    if n_procs <= 16:
        return 2.4
    return 3.1


def wait_n_cores_free(n: int, calib_ref: float, max_wait_s: float = 900.0) -> float:
    """Block until n cores are simultaneously free (bounded), judged against
    the idle-floor ratio for n concurrent processes. Returns the last
    parallel-spin worst-time (ms)."""
    t0 = time.time()
    s = spin_ms_parallel(n)
    while time.time() - t0 < max_wait_s and s > clean_ratio(n) * calib_ref:
        time.sleep(10)
        s = spin_ms_parallel(n)
    return s


def host_cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:9]))


def tree_cpu_ticks(root_pid: int) -> int:
    """CPU ticks of root_pid and every live descendant (the Spark driver
    JVM plus its pyspark worker daemons are separate processes). Includes
    each process's cutime/cstime (CPU of its REAPED children), so a worker
    that exits mid-window still counts: before exit its ticks appear in its
    own utime; after reaping they move to the parent's cutime — the
    window-delta stays exact either way (children reaped before the window
    cancel in the subtraction)."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        # post-comm fields: rest[1]=ppid, rest[11]=utime, rest[12]=stime,
        # rest[13]=cutime, rest[14]=cstime
        procs[int(d)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
        )
    ticks = 0
    members = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in members and pid not in members:
                members.add(pid)
                grew = True
    for pid in members:
        if pid in procs:
            ticks += procs[pid][1]
    return ticks


class WindowMonitor:
    """Attribute host CPU inside EXACTLY one measured window.

    Context manager: snapshots /proc/stat and our process tree's CPU ticks
    at enter/exit (whole-window aggregates), plus a 1 s sampler for burst
    maxima during longer windows. After exit:

    - ``steal_pct``       whole-window hypervisor steal share
    - ``busy_cores``      whole-window host busy-core average
    - ``ours_cores``      our own tree's average cores over the window
    - ``tenant_cores``    busy - ours (whole-window average, floored at 0)
    - ``steal_pct_max`` / ``tenant_cores_max``  burst maxima from sampling
    """

    def __init__(self, root_pid: int | None = None, sample_s: float = 1.0):
        self.root_pid = root_pid if root_pid is not None else os.getpid()
        self.sample_s = sample_s
        self.steal_pct = 0.0
        self.busy_cores = 0.0
        self.ours_cores = 0.0
        self.tenant_cores = 0.0
        self.steal_pct_max = 0.0
        self.tenant_cores_max = 0.0
        self._done = threading.Event()
        self._thread: threading.Thread | None = None

    def _sampler(self) -> None:
        prev_host = host_cpu_times()
        prev_ours = tree_cpu_ticks(self.root_pid)
        while not self._done.wait(self.sample_s):
            cur_host = host_cpu_times()
            cur_ours = tree_cpu_ticks(self.root_pid)
            d = [y - x for x, y in zip(prev_host, cur_host)]
            ours_ticks = max(0, cur_ours - prev_ours)
            prev_host, prev_ours = cur_host, cur_ours
            tot = sum(d)
            if tot <= 0:
                continue
            interval_s = tot / _CLK / os.cpu_count()
            busy_cores = (tot - d[3] - d[4]) / tot * os.cpu_count()
            ours_cores = ours_ticks / _CLK / max(interval_s, 1e-9)
            self.tenant_cores_max = max(
                self.tenant_cores_max, busy_cores - ours_cores - 0.3)
            self.steal_pct_max = max(self.steal_pct_max, 100.0 * d[7] / tot)

    def __enter__(self) -> "WindowMonitor":
        self._t0 = time.perf_counter()
        self._host0 = host_cpu_times()
        self._ours0 = tree_cpu_ticks(self.root_pid)
        self._done.clear()
        self._thread = threading.Thread(target=self._sampler, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        host1 = host_cpu_times()
        ours1 = tree_cpu_ticks(self.root_pid)
        wall = max(time.perf_counter() - self._t0, 1e-9)
        self._done.set()
        self._thread.join()
        d = [y - x for x, y in zip(self._host0, host1)]
        tot = sum(d)
        if tot > 0:
            self.steal_pct = 100.0 * d[7] / tot
            self.busy_cores = (tot - d[3] - d[4]) / tot * os.cpu_count()
        self.ours_cores = max(0, ours1 - self._ours0) / _CLK / wall
        self.tenant_cores = max(0.0, self.busy_cores - self.ours_cores)
