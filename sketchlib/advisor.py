"""Performance-optimal filter selection — the reference's (n, t_w) skyline
(A16 in SURVEY.md §2.A; [SIGMOD19] §5 "Performance-Optimal Filtering"),
re-based on NumPy-kernel probe costs instead of the reference's
hardware-calibration tool (A15).

The decision the reference automates: a Bloom filter in front of work that
costs ``t_w`` ns per filtered-out element is only worth its probe cost if

    cost(cfg) = probe_ns(cfg) + fpr(cfg, n) * t_w_ns

is minimized — cheap/leaky configs win at small t_w, expensive/tight configs
win at large t_w. ``suggest_config_cost`` scans the geometry x k x m space
and returns the argmin; ``skyline`` returns the whole frontier for
inspection.

Probe costs come only from the caller or from the code: an explicit callable
or {(block_bits, sectors, zones, k): ns} table, else ``_model_probe_ns``,
fitted to measurements on the development host (2026-08-16, local[32]
sandbox, RAM-resident filters):

    geometry            k   m=2^21   m=2^24   (ns/key, min of 5 reps)
    reg64               4     17.5     25.7
    cacheline-512       4     18.5     25.0
    512/s8              8     32.7     66.8
    512/s8/z2           8     55.9     85.2
    512/s8             16     74.3    114.7

Model: base + per_hash * (k + zone hashes) with a cache-pressure bump for
large filters — accurate to ~25%, which is enough to order configs. When the
ordering is close, price on the host at hand with
``probe_ns=measure_probe_ns``: it times the real kernel at each candidate's
exact (geometry, k, m) (~11 s for the 88 candidates of n=20,000 on a 4-core
Xeon). No file is read, so a pick never depends on what a bench run wrote.
"""

from __future__ import annotations

import math
import time
from typing import Callable

import numpy as np

from sketchlib import fpr as fprmod
from sketchlib.config import BloomConfig, SketchConfigError


def _table_cost_fn(table: dict) -> Callable[[BloomConfig], float]:
    """Caller-passed {(block_bits, sectors, zones, k): ns} table; geometries
    it does not list are priced by the fitted model."""
    def cost_fn(cfg: BloomConfig) -> float:
        return table.get((cfg.block_bits, cfg.sectors, cfg.zones, cfg.k),
                         _model_probe_ns(cfg))
    return cost_fn


def resolve_probe_cost(probe_ns=None) -> tuple[Callable[[BloomConfig], float], str]:
    """Pick the probe-cost source: an explicit callable (e.g.
    ``measure_probe_ns``) or {(block_bits, sectors, zones, k): ns} table from
    the caller, else the fitted model. Returns (cost_fn, source) with source
    in {'explicit-callable', 'explicit-table', 'fitted-model'} so callers can
    report provenance. A table's missing geometries are priced by the model."""
    if callable(probe_ns):
        return probe_ns, "explicit-callable"
    if isinstance(probe_ns, dict):
        return _table_cost_fn(probe_ns), "explicit-table"
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


# the k values the skyline scans per geometry; a caller that passes
# probe_ns=measure_probe_ns prices each of them at its own (geometry, k, m)
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
                except SketchConfigError:  # geometry rejects this (m, k)
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
