"""Analytic false-positive-rate oracle for blocked/sectorized/zoned Bloom
filters — the correctness contract (SURVEY.md Appendix A).

Published sources: [PSS07] Putze, Sanders, Singler, "Cache-, Hash- and
Space-Efficient Bloom Filters" (WEA 2007) §4 — blocked Poisson mixture;
[SIGMOD19] Lang, Neumann, Kemper, Boncz §3 — sectorized / cache-sectorized.
This module replaces the reference's hardware cost model (A14-A16 in
SURVEY.md §2.A) with a pure-analytic config advisor: no hardware timing,
just FPR/size math.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from sketchlib.config import BloomConfig, SketchConfigError


def fpr_standard(m: int, n: int, k: int) -> float:
    """Classic Bloom: (1 - (1 - 1/m)^(k n))^k."""
    if n == 0:
        return 0.0
    return (1.0 - (1.0 - 1.0 / m) ** (k * n)) ** k


def _poisson_terms(lam: float, tail_sigmas: float = 10.0):
    """Yield (i, P(Pois(lam) = i)) until the tail is negligible."""
    hi = int(lam + tail_sigmas * math.sqrt(lam) + 25)
    logp = -lam
    for i in range(0, hi + 1):
        yield i, math.exp(logp)
        logp += math.log(lam) - math.log(i + 1)


def _sector_pass(B: int, i: int, k: int, s: int) -> float:
    """P(one probe passes | block holds i keys), sectorized block.

    Each inserted key puts k/s bits per sector (round-robin over s sectors of
    B/s bits). A probed bit in a given sector is missed by one placement with
    prob (1 - s/B); i keys place i*k/s bits in that sector.
    """
    if i == 0:
        return 0.0
    p_set = 1.0 - (1.0 - s / B) ** (i * k / s)
    return p_set**k


def fpr_blocked(cfg: BloomConfig, n: int) -> float:
    """Poisson-mixture FPR for a blocked (optionally sectorized / zoned)
    Bloom filter holding n keys. Register-blocked = B in {32, 64}, s = 1."""
    if n == 0:
        return 0.0
    B = cfg.block_bits
    lam = B * n / cfg.m_bits  # expected keys per block
    s, k, z = cfg.sectors, cfg.k, cfg.zones

    if z == 1:
        return sum(p * _sector_pass(B, i, k, s) for i, p in _poisson_terms(lam))
    return _fpr_zoned_exact(cfg, lam)


def _zone_partitions(z: int) -> list[tuple[list[int], float]]:
    """Partitions of the probe's z i.i.d.-uniform zone choices, with the
    probability that the choice multiset realizes each partition.

    P(partition) = [z!/prod(part!)] * [z!/((z-r)! * prod(multiplicity!))] / z^z
    (assign probe groups to parts x assign distinct zones to parts)."""
    def parts(rem: int, cap: int):
        if rem == 0:
            yield []
        for p in range(min(rem, cap), 0, -1):
            for rest in parts(rem - p, p):
                yield [p] + rest

    out = []
    for lam_ in parts(z, z):
        r = len(lam_)
        ways = math.factorial(z)
        for p in lam_:
            ways //= math.factorial(p)
        sel = math.factorial(z) // math.factorial(z - r)
        for c in Counter(lam_).values():
            sel //= math.factorial(c)
        out.append((lam_, ways * sel / z**z))
    return out


def _fpr_zoned_exact(cfg: BloomConfig, lam: float) -> float:
    """Exact finite-B zone combinatorics ([SIGMOD19] §3.3 zoned blocks),
    replacing round-2's two approximations: (a) per-zone group arrivals are
    EXACTLY Multinomial(z*i, uniform) given block load i — not Pois(i); (b)
    the probe's z zone choices can COLLIDE, in which case one zone must pass
    several probe groups (positively correlated through its shared fill) —
    not independent across groups.

    Given block load i: G = z*i inserted groups fall i.i.d.-uniform over the
    z zones (each key's z zone hashes are independent). A probe whose choice
    multiset has parts (lam_1..lam_r) passes with
    E[prod_j gp(A_j)^lam_j] over multinomial arrivals, where gp(a) =
    (1 - (1 - 1/sector_bits)^(a*kpz/spz))^kpz is the per-group pass
    probability at fill a (per-probed-bit independence kept, as in the
    published blocked/sectorized forms). The expectation is computed exactly
    from Poisson(s)-weighted coefficient series: with per-zone series
    F_j[a] = Pois(s)(a) * gp(a)^lam_j and plain zones folded into one
    Poisson((z-r)s) pmf, the G-th coefficient d_G of the convolution gives
    E[.|G] = d_G * e^{zs} * G! / (s z)^G, evaluated in logs. Block-load
    mixture stays Poisson (the standard [PSS07] blocked model)."""
    B, z, k, s = cfg.block_bits, cfg.zones, cfg.k, cfg.sectors
    kpz, spz = k // z, s // z
    sector_bits = B // s
    terms = list(_poisson_terms(lam))
    i_max = terms[-1][0]
    g_max = z * i_max
    a = np.arange(g_max + 1, dtype=np.float64)
    gp = (1.0 - (1.0 - 1.0 / sector_bits) ** (a * kpz / spz)) ** kpz
    s_scale = max(lam, 1e-12)
    logfact = np.r_[0.0, np.cumsum(np.log(np.arange(1, g_max + 1, dtype=np.float64)))]
    log_pois = a * math.log(s_scale) - s_scale - logfact  # log Pois(s)(a)
    w = np.exp(log_pois)

    # E[prod f | G=g] per partition, combined over partition probabilities
    e_given_g = np.zeros(g_max + 1)
    for parts_, prob in _zone_partitions(z):
        r = len(parts_)
        series = w * gp ** parts_[0]
        for pj in parts_[1:]:
            series = np.convolve(series, w * gp ** pj)[: g_max + 1]
        if z - r:
            log_plain = (a * math.log((z - r) * s_scale) - (z - r) * s_scale
                         - logfact)
            series = np.convolve(series, np.exp(log_plain))[: g_max + 1]
        g = np.arange(g_max + 1, dtype=np.float64)
        with np.errstate(divide="ignore"):
            log_e = (np.log(series) + z * s_scale
                     - g * math.log(s_scale * z) + logfact)
        e_given_g += prob * np.exp(np.minimum(log_e, 0.0))

    return float(sum(p * e_given_g[z * i] for i, p in terms))


def fpr(cfg: BloomConfig, n: int) -> float:
    """Analytic FPR for cfg holding n keys (dispatches on geometry)."""
    if cfg.block_bits == cfg.m_bits and cfg.sectors == 1 and cfg.zones == 1:
        return fpr_standard(cfg.m_bits, n, cfg.k)
    return fpr_blocked(cfg, n)


def suggest_config(
    n: int,
    target_fpr: float,
    block_bits: int = 512,
    sectors: int = 8,
    zones: int = 1,
    max_m_bits: int = 1 << 34,
) -> BloomConfig:
    """Pick (m, k) for a target FPR — the analytic reduction of the
    reference's performance-optimal 'skyline' selector (A16): probe cost is
    not modeled (network/shuffle dominates at our tier), only FPR and size.

    Doubles m (power-of-two addressing) and scans k in [1, 16] until the
    analytic blocked FPR meets the target.
    """
    if not (0.0 < target_fpr < 1.0):
        raise ValueError("target_fpr must be in (0,1)")
    word_bits = 64 if block_bits >= 64 else 32
    words_per_block = max(1, block_bits // word_bits)
    ks = [k for k in range(1, 17) if not (k % zones or k % sectors)]
    if not ks:
        raise SketchConfigError(
            f"no k in [1, 16] is a multiple of sectors={sectors} and zones={zones}")
    m = 1 << max(int(math.ceil(math.log2(max(n, 1) * 2))), int(math.log2(block_bits)))
    while m <= max_m_bits:
        best_k, best_f = None, 1.0
        for k in ks:
            cfg = BloomConfig(
                m_bits=m, k=k, word_bits=word_bits,
                words_per_block=words_per_block, sectors=sectors, zones=zones,
            )
            f = fpr(cfg, n)
            if f < best_f:
                best_f, best_k = f, k
        if best_k is not None and best_f <= target_fpr:
            return BloomConfig(
                m_bits=m, k=best_k, word_bits=word_bits,
                words_per_block=words_per_block, sectors=sectors, zones=zones,
            )
        m <<= 1
    raise ValueError(f"cannot reach FPR {target_fpr} within max_m_bits={max_m_bits}")
