"""T2 — analytic FPR contract: empirical FPR within binomial CI of the
Poisson-mixture formulas (SURVEY.md Appendix A; [PSS07] §4, [SIGMOD19] §3),
across the BASELINE.md config grid (m/n in {8,12,16,20}, varied geometry).
Zero false negatives is asserted as a hard invariant everywhere."""

from __future__ import annotations

import math

import numpy as np
import pytest

from sketchlib import bloom, fpr
from sketchlib.config import BloomConfig, SketchConfigError

SEED = 42
N_KEYS = 120_000


def _grid():
    geoms = [
        dict(word_bits=32, words_per_block=1, sectors=1),             # register-blocked 32
        dict(word_bits=64, words_per_block=1, sectors=1),             # register-blocked 64
        dict(word_bits=64, words_per_block=8, sectors=1),             # cache-line 512
        dict(word_bits=64, words_per_block=8, sectors=4),             # sectorized
        dict(word_bits=64, words_per_block=8, sectors=8),             # fully sectorized
        dict(word_bits=64, words_per_block=8, sectors=8, zones=2),    # zoned
    ]
    out = []
    for bits_per_key in (8, 12, 16):
        m = 1 << int(math.ceil(math.log2(N_KEYS * bits_per_key)))
        for g in geoms:
            for k in (2, 4, 8):
                if k % g.get("zones", 1) or k % g["sectors"]:
                    continue
                out.append(BloomConfig(m_bits=m, k=k, **g))
    # magic (fastrange) addressing: EXACT m/n budgets, not rounded to a power
    # of two — the FPR formula is the same Poisson mixture, the block count
    # just isn't 2^b. A7 in SURVEY.md §2.A.
    for bits_per_key in (10, 16):
        for g, k in [
            (dict(word_bits=64, words_per_block=8, sectors=8), 8),
            (dict(word_bits=64, words_per_block=1, sectors=1), 4),
            (dict(word_bits=64, words_per_block=8, sectors=8, zones=2), 8),
        ]:
            B = 64 * g["words_per_block"]
            m = (N_KEYS * bits_per_key // B) * B  # whole blocks, non-pow2
            out.append(BloomConfig(m_bits=m, k=k, addressing="magic", **g))
    return out


@pytest.mark.parametrize(
    "cfg", _grid(), ids=lambda c: f"m{c.m_bits}B{c.block_bits}s{c.sectors}z{c.zones}k{c.k}"
)
def test_empirical_fpr_matches_analytic(cfg):
    rng = np.random.default_rng(SEED)
    keys = np.unique(rng.integers(0, 2**30, N_KEYS * 2, dtype=np.int64))[:N_KEYS].astype(np.int32)
    blob = bloom.build(keys, cfg)

    # hard invariant: zero false negatives
    assert bloom.contains_blob(keys, blob).all()

    analytic = fpr.fpr(cfg, keys.size)
    # scale probe count so expected FP >= 50 (FIXTURES.md F2)
    n_probes = max(200_000, int(50 / max(analytic, 1e-9)))
    n_probes = min(n_probes, 4_000_000)
    probes = rng.integers(2**30, 2**31 - 1, n_probes, dtype=np.int64).astype(np.int32)
    emp = float(bloom.contains_blob(probes, blob).mean())

    # binomial CI (5 sigma) around the analytic value + 10% model slack
    sigma = math.sqrt(max(analytic, 1e-12) * (1 - analytic) / n_probes)
    slack = 5 * sigma + 0.10 * analytic + 1e-7
    assert abs(emp - analytic) <= slack, (
        f"cfg={cfg}: empirical {emp:.3e} vs analytic {analytic:.3e} (slack {slack:.3e})"
    )


_ZONED = [
    BloomConfig(m_bits=1 << int(math.ceil(math.log2(N_KEYS * bpk))), k=k,
                word_bits=64, words_per_block=8, sectors=s, zones=z)
    for bpk in (8, 16)
    # (16, 8, 16) / (16, 16, 16): zone-constant indices 24 / 32 — regression
    # for the 24-entry hash-table wrap that made zone = f(block index)
    for (s, z, k) in [(8, 2, 8), (8, 4, 8), (4, 2, 4), (4, 4, 4), (2, 2, 8), (8, 8, 8),
                      (16, 8, 16), (16, 16, 16)]
]


@pytest.mark.parametrize(
    "cfg", _ZONED, ids=lambda c: f"m{c.m_bits}s{c.sectors}z{c.zones}k{c.k}"
)
def test_zoned_fpr_exact_tight_ci(cfg):
    """Round-3: the zoned analytic form is exact finite-B combinatorics
    (multinomial zone arrivals + probe-zone collisions), so the empirical
    FPR must sit inside a TIGHT CI — 5 sigma + 2% — across z in {2,4,8},
    not the 10% model slack the old independence approximation needed."""
    rng = np.random.default_rng(SEED + cfg.zones)
    keys = np.unique(rng.integers(0, 2**30, N_KEYS * 2, dtype=np.int64))[:N_KEYS].astype(np.int32)
    blob = bloom.build(keys, cfg)
    assert bloom.contains_blob(keys, blob).all()  # zero FN, always

    analytic = fpr.fpr(cfg, keys.size)
    n_probes = min(max(200_000, int(80 / max(analytic, 1e-9))), 4_000_000)
    probes = rng.integers(2**30, 2**31 - 1, n_probes, dtype=np.int64).astype(np.int32)
    emp = float(bloom.contains_blob(probes, blob).mean())
    sigma = math.sqrt(max(analytic, 1e-12) * (1 - analytic) / n_probes)
    slack = 5 * sigma + 0.02 * analytic + 1e-7
    assert abs(emp - analytic) <= slack, (
        f"cfg={cfg}: empirical {emp:.3e} vs analytic {analytic:.3e} (slack {slack:.3e})"
    )


def test_zoned_exact_matches_model_monte_carlo():
    """The exact series computation must match a direct Monte-Carlo of the
    zone model (Poisson block load -> multinomial group arrivals -> probe
    choices WITH collisions) — this pins the combinatorics independently of
    the filter kernels."""
    rng = np.random.default_rng(123)
    trials = 300_000
    for (z, s, k, m_bits, n) in [(2, 8, 8, 1 << 18, 20_000), (4, 4, 4, 1 << 20, 120_000)]:
        cfg = BloomConfig(m_bits=m_bits, k=k, word_bits=64, words_per_block=8,
                          sectors=s, zones=z)
        kpz, spz = k // z, s // z
        sector_bits = cfg.block_bits // s
        lam = cfg.block_bits * n / m_bits
        load = rng.poisson(lam, trials)
        arrivals = rng.multinomial(z * load, [1.0 / z] * z)
        probe_zones = rng.integers(0, z, size=(trials, z))
        arr = np.take_along_axis(arrivals, probe_zones, axis=1)
        gp = (1.0 - (1.0 - 1.0 / sector_bits) ** (arr * kpz / spz)) ** kpz
        mc = float(gp.prod(axis=1).mean())
        exact = fpr.fpr(cfg, n)
        se = math.sqrt(mc * (1 - mc) / trials)
        assert abs(exact - mc) <= max(5 * se, 1e-7), (z, s, k, exact, mc)


def test_zoned_partition_probabilities_sum_to_one():
    for z in (2, 3, 4, 8):
        assert abs(sum(p for _, p in fpr._zone_partitions(z)) - 1.0) < 1e-12


def test_blocking_fpr_penalty_ordering():
    """[SIGMOD19] §3: at matched m/n and k, smaller blocks and more sectors
    cost FPR — the analytic oracle must reproduce that ordering."""
    n = 100_000
    m = 1 << 21  # ~20 bits/key
    f_std = fpr.fpr_standard(m, n, 8)
    f_cl = fpr.fpr(BloomConfig(m_bits=m, k=8, word_bits=64, words_per_block=8, sectors=1), n)
    f_sec = fpr.fpr(BloomConfig(m_bits=m, k=8, word_bits=64, words_per_block=8, sectors=8), n)
    f_reg = fpr.fpr(BloomConfig(m_bits=m, k=8, word_bits=64, words_per_block=1, sectors=1), n)
    assert f_std < f_cl < f_sec < f_reg * 10  # register-blocked is worst by far
    assert f_cl < f_reg
    # published ballpark: blocking costs ~1.2-4x at 512-bit blocks
    assert f_cl / f_std < 4.0


def test_suggest_config_meets_target():
    for n in (10_000, 1_000_000):
        for target in (1e-2, 1e-3, 1e-4):
            cfg = fpr.suggest_config(n, target)
            assert fpr.fpr(cfg, n) <= target
            # and it shouldn't be absurdly oversized (>64 bits/key)
            assert cfg.m_bits / n <= 64


@pytest.mark.parametrize("geom, match", [
    (dict(sectors=3), "sectors must be a power of two"),
    (dict(sectors=8, zones=16), "zones must be a power of two"),
    (dict(sectors=32), "no k in"),
], ids=["sectors3", "zones16", "sectors32"])
def test_suggest_config_rejects_invalid_geometry(geom, match):
    # an invalid geometry is a config error, not an unreachable target
    with pytest.raises(SketchConfigError, match=match):
        fpr.suggest_config(1000, 0.01, block_bits=512, **geom)


def test_fpr_monotone_in_n():
    cfg = BloomConfig(m_bits=1 << 20, k=4, word_bits=64, words_per_block=8, sectors=4)
    vals = [fpr.fpr(cfg, n) for n in (1_000, 10_000, 100_000)]
    assert vals[0] < vals[1] < vals[2]
