#!/usr/bin/env python
"""Hardware calibration sweep — the reference's `tools/calibration` (A15
in SURVEY.md §2.A [path-level, unverified]) restored one tier up: instead of
cycle-accurate SIMD probe timings, measure the real NumPy `bloom.contains`
kernel at filter sizes spanning the cache hierarchy (4 KB L1-resident up to
hundreds of MB RAM-resident) for each geometry the advisor scans, and
persist the per-machine t_probe(m) curves to BENCH/calibration.json via
sketchlib.advisor.save_calibration (best-per-point merge across runs, host
fingerprint, per-point timestamps).

The advisor (A16) auto-loads the curves and interpolates in log2(m), so
performance-optimal config selection prices every candidate from a
measurement in its own size regime — the exact role the reference's
persisted calibration files play for its cost model.

Filters are loaded at 16 bits/key (a realistic m/n) before probing; probes
are uniform random over the key domain, mostly missing, like a semi-join
pruning workload. Points carry the epoch factor (current 4-proc spin vs the
persisted floor) so a reader can tell which points were measured in a slow
hypervisor epoch; the min-merge means later fast-epoch runs tighten them.

Usage: python bench/calibrate.py [--quick]
  --quick: 4 sizes x fewer reps (smoke test, ~10 s); default full sweep is
  17 sizes (4 KB..256 MB) x 22 geometry/k combos (the advisor's full
  candidate menu), ~5-15 min depending on the host epoch.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import noise  # noqa: E402

from sketchlib import advisor  # noqa: E402
from sketchlib.config import BloomConfig  # noqa: E402

BITS_PER_KEY = 16
# the advisor's full candidate k menu — shared constant, so extending the
# skyline's menu automatically extends the sweep (a k the sweep skips would
# be priced by the fitted model while its neighbors use measurements: mixed
# cost scales that can flip the skyline argmin)
K_MENU = advisor.CANDIDATE_K_MENU


def _epoch_factor() -> float:
    floor = noise.read_spin_floor(REPO)
    if floor is None:
        # no (or corrupt) floor on record: 0.0 = "epoch unknown" sentinel.
        # Deliberately NOT a fresh-measurement fallback — that would anchor
        # the factor to the CURRENT epoch and report ~1.0 no matter how slow
        # the host actually is.
        return 0.0
    return round(noise.spin_ms_parallel(4) / floor, 2)


def sweep(quick: bool = False, sizes=None, reps=None, n_probes=None) -> list[dict]:
    if quick:
        sizes = sizes or [1 << b for b in (15, 18, 21, 24)]
        reps, n_probes = reps or 2, n_probes or 200_000
    else:
        # 4 KB .. 256 MB payload: the top sizes must be genuinely
        # RAM-resident even on big-L3 server parts (up to ~320 MB L3), or
        # the cost fn's above-range clamp would price DRAM-bound candidates
        # at an L3-resident point's ns/key
        sizes = sizes or [1 << b for b in range(15, 32)]
        reps, n_probes = reps or 5, n_probes or 500_000
    epoch = _epoch_factor()
    points: list[dict] = []
    for g in advisor.DEFAULT_GEOMETRIES:
        s, z = g.get("sectors", 1), g.get("zones", 1)
        for k in K_MENU:
            if k % s or k % z:
                continue
            for m_bits in sizes:
                cfg = BloomConfig(m_bits=m_bits, k=k, **g)
                # probe timing is occupancy-independent (contains is
                # branchless AND-accumulation over all k rows, no early
                # exit), so cap the one-time fill at 1M keys — the build,
                # not the timed probes, dominates sweep time at RAM sizes
                n_keys = max(64, min(m_bits // BITS_PER_KEY, 1_000_000))
                ns = advisor.measure_probe_ns(
                    cfg, n_keys=n_keys, n_probes=n_probes, reps=reps)
                points.append(dict(
                    block_bits=cfg.block_bits, sectors=cfg.sectors,
                    zones=cfg.zones, k=cfg.k, m_bits=m_bits,
                    ns=round(ns, 2), epoch_factor=epoch))
                print(f"B{cfg.block_bits}/s{cfg.sectors}/z{cfg.zones}/k{k} "
                      f"m=2^{m_bits.bit_length()-1} n={n_keys} "
                      f"-> {ns:7.1f} ns/key", flush=True)
    return points


def main() -> None:
    quick = "--quick" in sys.argv[1:]
    t0 = time.time()
    points = sweep(quick=quick)
    path = advisor.save_calibration(points)
    curves = advisor.load_calibration(path)
    print(f"\n{len(points)} points measured in {time.time()-t0:.0f}s -> {path}")
    print(f"curves for {len(curves or {})} geometries; "
          f"cost source now: {advisor.resolve_probe_cost(None)[1]}")


if __name__ == "__main__":
    main()
