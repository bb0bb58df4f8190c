"""Performance-optimal filter selection — the reference's (n, t_w) skyline
(A16 in SURVEY.md §2.A; [SIGMOD19] §5 "Performance-Optimal Filtering"),
re-based on measured NumPy-kernel probe costs instead of the dropped
hardware-calibration tool (A15).

The decision the reference automates: a Bloom filter in front of work that
costs ``t_w`` ns per filtered-out element is only worth its probe cost if

    cost(cfg) = probe_ns(cfg) + fpr(cfg, n) * t_w_ns

is minimized — cheap/leaky configs win at small t_w, expensive/tight configs
win at large t_w. ``suggest_config_cost`` scans the geometry x k x m space
and returns the argmin; ``skyline`` returns the whole frontier for
inspection.

Probe costs: ``measure_probe_ns`` times the actual kernel on this machine
(bench/calibrate.py sweeps it into the committed size curves);
``_model_probe_ns`` is the built-in fallback fitted to measurements on the
development host (2026-08-16, local[32] sandbox, RAM-resident filters):

    geometry            k   m=2^21   m=2^24   (ns/key, min of 5 reps)
    reg64               4     17.5     25.7
    cacheline-512       4     18.5     25.0
    512/s8              8     32.7     66.8
    512/s8/z2           8     55.9     85.2
    512/s8             16     74.3    114.7

Model: base + per_hash * (k + zone hashes) with a cache-pressure bump for
large filters — accurate to ~25%, which is enough to order configs; pass a
measured table when the ordering is close.
"""

from __future__ import annotations

import json
import math
import os
import platform
import time
from pathlib import Path
from typing import Callable

import numpy as np

from sketchlib import fpr as fprmod
from sketchlib.config import BloomConfig

def host_fingerprint() -> str:
    """Stable hardware identity: CPU model + logical core count. hostnames
    change every boot in containerized/ephemeral environments, so keying the
    calibration on platform.node() silently discarded fresh measurements on
    the next run (ADVICE r4); the CPU model survives reboots and still
    rejects tables carried to genuinely different hardware."""
    model = ""
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.lower().startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    if not model:
        # /proc/cpuinfo readable but without a "model name" line (common on
        # aarch64 kernels): fall back the same way as when it's unreadable,
        # so two different machines never collapse to a core-count-only
        # fingerprint like "/32c"
        model = platform.processor() or platform.machine()
    return f"{model}/{os.cpu_count()}c"


# calibration points older than this are ignored on load: a point measured in
# a different hypervisor epoch (or on a pre-migration host) must not silently
# steer suggest_config_cost weeks later (ADVICE r3)
CALIBRATION_MAX_AGE_S = 7 * 86400

# ---------------------------------------------------------------------------
# Size-sweep calibration (reference A15, `tools/calibration` [path-level,
# unverified]): the reference times probes at filter sizes spanning
# L1/L2/L3/RAM and persists per-machine cost tables that the optimizer (A16)
# consumes. The restoration here is the same shape one tier up: a measured
# t_probe(m) curve per geometry for the NumPy probe kernel, persisted
# best-per-point across runs (the min over a noisy multi-tenant box is the
# signal, same policy as bench.py's spin floor), host-fingerprinted and
# age-capped per point. suggest_config_cost interpolates the
# curve at the candidate's m, so cache-resident and RAM-resident candidates
# are priced from measurements in their own size regime instead of the
# two-regime fitted bump.

CALIBRATION_ENV = "SKETCHLIB_CALIBRATION"
_DEFAULT_CALIBRATION = Path(__file__).resolve().parent.parent / "BENCH" / "calibration.json"


def calibration_path() -> Path:
    return Path(os.environ.get(CALIBRATION_ENV, str(_DEFAULT_CALIBRATION)))


def save_calibration(points: list[dict], path=None) -> Path:
    """Merge measured calibration points into the persisted per-host curve
    file. Each point: {block_bits, sectors, zones, k, m_bits, ns} plus
    free-form context (epoch_factor, ...). Merge policy is best-per-point:
    for an existing (geometry, k, m_bits) key the smaller ns wins and keeps
    its own timestamp — repeated runs through tenant noise can only tighten
    the curve. A file from a different host fingerprint is replaced, not
    merged."""
    p = Path(path) if path is not None else calibration_path()
    p.parent.mkdir(parents=True, exist_ok=True)
    now = time.time()
    merged: dict[tuple, dict] = {}
    try:
        old = json.loads(p.read_text())
        if old.get("host_fp") == host_fingerprint():
            for pt in old.get("points", []):
                # per-point guard: one malformed (hand-edited/truncated)
                # entry must not abort the merge and drop the rest of the
                # accumulated history on rewrite
                try:
                    key = (int(pt["block_bits"]), int(pt["sectors"]),
                           int(pt["zones"]), int(pt["k"]), int(pt["m_bits"]))
                    float(pt["ns"])  # the merge below compares on it
                except (KeyError, TypeError, ValueError):
                    continue
                # ts-less legacy points: pin to the OLD file's saved_at now.
                # Without the backfill they would ride each save's refreshed
                # saved_at at load time and never hit the 7-day age cap —
                # dead-epoch measurements steering the advisor forever.
                if "ts" not in pt:
                    pt = {**pt, "ts": float(old.get("saved_at", 0.0))}
                merged[key] = pt
    except (OSError, ValueError, TypeError):
        pass
    for pt in points:
        key = (int(pt["block_bits"]), int(pt["sectors"]), int(pt["zones"]),
               int(pt["k"]), int(pt["m_bits"]))
        pt = {**pt, "ts": float(pt.get("ts", now))}
        prev = merged.get(key)
        if prev is None or float(pt["ns"]) < float(prev["ns"]):
            merged[key] = pt
        else:
            # the best ns stands, but the point was RE-MEASURED now — refresh
            # its timestamp so the load-side age cap tracks "last confirmed",
            # not "first measured" (otherwise a point whose timings regressed
            # keeps its old ts at save time and is then dropped as stale at
            # load time: the curve would vanish despite recent runs)
            prev["ts"] = max(float(prev.get("ts", 0.0)), float(pt["ts"]))
    body = {"host_fp": host_fingerprint(), "host": platform.node(),
            "saved_at": now,
            "points": [merged[k] for k in sorted(merged)]}
    # atomic replace: a crash mid-write must not truncate the file — the next
    # save's unreadable-file fallback would then silently restart the
    # accumulated multi-epoch history from empty
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(body, indent=1))
    os.replace(tmp, p)
    return p


def load_calibration(path=None, max_age_s: float | None = None) -> dict | None:
    """Load persisted curves as {(block_bits, sectors, zones, k):
    [(m_bits, ns), ...] sorted by m_bits}. None when absent, unreadable, or
    measured on a different host fingerprint; individual points older than
    the age cap are dropped (each point keeps the timestamp of its best
    measurement)."""
    p = Path(path) if path is not None else calibration_path()
    try:
        data = json.loads(p.read_text())
    except (OSError, ValueError):
        return None
    if data.get("host_fp") != host_fingerprint():
        return None
    age_cap = CALIBRATION_MAX_AGE_S if max_age_s is None else max_age_s
    now = time.time()
    curves: dict[tuple, list] = {}
    stale_max: dict[tuple, int] = {}  # largest m dropped per geometry
    for pt in data.get("points", []):
        try:
            ts = float(pt.get("ts", data.get("saved_at", 0.0)))
            geo = (int(pt["block_bits"]), int(pt["sectors"]), int(pt["zones"]),
                   int(pt["k"]))
            m = int(pt["m_bits"])
            if now - ts > age_cap:
                stale_max[geo] = max(stale_max.get(geo, 0), m)
                continue
            curves.setdefault(geo, []).append((m, float(pt["ns"])))
        except (KeyError, TypeError, ValueError):
            continue
    for geo in list(curves):
        curves[geo].sort()
        # if the geometry's LARGEST measured size aged out, the curve no
        # longer covers its upper range and the cost fn's above-range clamp
        # would price DRAM-bound candidates at a cache-resident point (e.g.
        # only --quick re-runs after the full sweep went stale) — drop the
        # whole curve and fall back honestly rather than misprice under a
        # trusted 'calibration-curve' provenance
        if stale_max.get(geo, 0) > curves[geo][-1][0]:
            del curves[geo]
    return curves or None


def _calibration_cost_fn(curves: dict,
                         fallback: Callable[[BloomConfig], float]
                         ) -> Callable[[BloomConfig], float]:
    """Cost function interpolating the measured t_probe(m) curve for the
    config's exact geometry, piecewise-linear in log2(m). Outside the
    measured size range the curve is clamped to its end value (below L1 the
    cost is flat anyway; above the largest measured filter the kernel is
    already memory-bound, so the last point is the best available estimate).
    Geometries with no curve fall through to ``fallback`` per config."""
    prepared = {
        geo: (np.log2([m for m, _ in pts]), np.array([ns for _, ns in pts]))
        for geo, pts in curves.items()
    }

    def cost_fn(cfg: BloomConfig) -> float:
        geo = (cfg.block_bits, cfg.sectors, cfg.zones, cfg.k)
        pts = prepared.get(geo)
        if pts is None:
            return fallback(cfg)
        xs, ys = pts
        return float(np.interp(math.log2(cfg.m_bits), xs, ys))

    return cost_fn


def _table_cost_fn(table: dict) -> Callable[[BloomConfig], float]:
    """Caller-passed {(block_bits, sectors, zones, k): ns} table; geometries
    it does not list are priced by the fitted model."""
    def cost_fn(cfg: BloomConfig) -> float:
        return table.get((cfg.block_bits, cfg.sectors, cfg.zones, cfg.k),
                         _model_probe_ns(cfg))
    return cost_fn


def resolve_probe_cost(probe_ns=None) -> tuple[Callable[[BloomConfig], float], str]:
    """Pick the probe-cost source: explicit callable/table from the caller,
    else the committed size-sweep calibration curves (A15, bench/calibrate.py),
    else the fitted model. Returns (cost_fn, source) with source in
    {'explicit-callable', 'explicit-table', 'calibration-curve',
    'fitted-model'} so callers can report provenance. The calibration cost
    function falls back to the fitted model per config for geometries it has
    no curve for."""
    if callable(probe_ns):
        return probe_ns, "explicit-callable"
    if isinstance(probe_ns, dict):
        return _table_cost_fn(probe_ns), "explicit-table"
    curves = load_calibration()
    if curves:
        return _calibration_cost_fn(curves, _model_probe_ns), "calibration-curve"
    return _model_probe_ns, "fitted-model"


# geometry menu the selector scans: the reference's main design points
DEFAULT_GEOMETRIES: tuple[dict, ...] = (
    dict(word_bits=32, words_per_block=1, sectors=1),              # register-32
    dict(word_bits=64, words_per_block=1, sectors=1),              # register-64
    dict(word_bits=64, words_per_block=8, sectors=1),              # cache-line 512
    dict(word_bits=64, words_per_block=8, sectors=8),              # sectorized
    dict(word_bits=64, words_per_block=8, sectors=8, zones=2),     # zoned
)


def _model_probe_ns(cfg: BloomConfig) -> float:
    """Fitted probe-cost model (see module docstring for the measurements)."""
    extra_hashes = cfg.zones if cfg.zones > 1 else 0
    per_hash = 3.5 if cfg.m_bits <= (1 << 22) else 7.0
    zone_overhead = 8.0 if cfg.zones > 1 else 0.0
    return 4.0 + per_hash * (cfg.k + extra_hashes) + zone_overhead


def measure_probe_ns(cfg: BloomConfig, n_keys: int = 100_000,
                     n_probes: int = 500_000, reps: int = 5,
                     seed: int = 1) -> float:
    """Time the real ``bloom.contains`` kernel for ``cfg`` on this machine
    (min over reps — the sandbox shares cores with bursty tenants, so the
    minimum is the signal)."""
    from sketchlib import blob as blobmod, bloom

    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 2**30, n_keys, dtype=np.int64).astype(np.int32)
    probes = rng.integers(0, 2**31 - 1, n_probes, dtype=np.int64).astype(np.int32)
    _, _, payload = blobmod.unpack(bloom.build(keys, cfg))
    arr = np.frombuffer(payload, dtype=np.uint8)
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        bloom.contains(probes, arr, cfg)
        best = min(best, time.perf_counter() - t0)
    return best * 1e9 / n_probes


# the k values the skyline scans per geometry — bench/calibrate.py sweeps
# EXACTLY this menu so every candidate is priced from a measurement in its
# own size regime (a k missing from the sweep would silently get a
# fitted-model price mixed into a measured skyline)
CANDIDATE_K_MENU = (2, 4, 6, 8, 12, 16)


def _candidate_configs(n: int, geometries=None, max_bits_per_key: int = 24):
    geometries = geometries or DEFAULT_GEOMETRIES
    m_lo = max(1 << 9, 1 << int(math.ceil(math.log2(max(n, 1) * 2))))
    # floor m_hi at m_lo: for tiny n (< ~22 keys at the default 24 bits/key)
    # the unfloored m_hi sits below the 512-bit m_lo and the generator would
    # yield nothing -> 'no candidate configs' crash for small key sets
    m_hi = max(m_lo, 1 << int(math.ceil(math.log2(max(n, 1) * max_bits_per_key))))
    m = m_lo
    while m <= m_hi:
        for g in geometries:
            s, z = g.get("sectors", 1), g.get("zones", 1)
            for k in CANDIDATE_K_MENU:
                if k % s or k % z:
                    continue
                try:
                    yield BloomConfig(m_bits=m, k=k, **g)
                except Exception:
                    continue
        m <<= 1


def skyline(n: int, t_w_ns: float, geometries=None, max_bits_per_key: int = 24,
            probe_ns: Callable[[BloomConfig], float] | dict | None = None
            ) -> list[tuple[float, float, float, BloomConfig]]:
    """All candidates as (total_cost_ns, probe_ns, fpr, cfg), cheapest first.
    ``probe_ns`` may be a callable, a {(block_bits, sectors, zones, k): ns}
    dict of measurements, or None — see ``resolve_probe_cost``."""
    cost_fn, _source = resolve_probe_cost(probe_ns)
    rows = []
    for cfg in _candidate_configs(n, geometries, max_bits_per_key):
        p = float(cost_fn(cfg))
        f = fprmod.fpr(cfg, n)
        rows.append((p + f * t_w_ns, p, f, cfg))
    rows.sort(key=lambda r: (r[0], r[3].m_bits, r[3].k))
    return rows


def suggest_config_cost(n: int, t_w_ns: float, geometries=None,
                        max_bits_per_key: int = 24,
                        probe_ns=None) -> BloomConfig:
    """Performance-optimal config for a workload where each filtered-out
    element saves ``t_w_ns`` ns — the analytic restoration of the
    reference's skyline selector. Unlike ``fpr.suggest_config`` (which only
    targets an FPR), this trades probe cost against FPR x work-saved."""
    if t_w_ns < 0:
        raise ValueError("t_w_ns must be >= 0")
    rows = skyline(n, t_w_ns, geometries, max_bits_per_key, probe_ns)
    if not rows:
        raise ValueError("no candidate configs")
    return rows[0][3]
