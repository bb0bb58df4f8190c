"""A16 — performance-optimal config selection: cost(cfg) = probe + fpr*t_w.
Property tests over a t_w sweep (the reference's skyline behavior)."""

from __future__ import annotations

import builtins
import pathlib

import pytest

from sketchlib import advisor, fpr as fprmod
from sketchlib.config import BloomConfig

N = 1_000_000
SWEEP = [0.0, 10.0, 100.0, 1_000.0, 10_000.0, 1e6, 1e8]


def _cost(cfg: BloomConfig, t_w_ns: float) -> float:
    return advisor._model_probe_ns(cfg) + fprmod.fpr(cfg, N) * t_w_ns


@pytest.mark.parametrize("t_w_ns", SWEEP)
def test_cost_pick_dominates_fpr_only_pick(t_w_ns):
    """The cost-aware pick must never be worse (under the model) than the
    FPR-only advisor's pick — the property that makes A16 an upgrade."""
    cost_pick = advisor.suggest_config_cost(N, t_w_ns)
    fpr_pick = fprmod.suggest_config(N, 0.01, block_bits=512, sectors=8)
    assert _cost(cost_pick, t_w_ns) <= _cost(fpr_pick, t_w_ns) * (1 + 1e-12)


def test_chosen_fpr_monotone_in_tw():
    """Classic exchange argument: more work saved per pruned element =>
    the optimal filter is (weakly) tighter."""
    fprs = [fprmod.fpr(advisor.suggest_config_cost(N, t), N) for t in SWEEP]
    assert all(a >= b - 1e-15 for a, b in zip(fprs, fprs[1:])), fprs


def test_extremes():
    # work saved ~ 0: probe cost dominates -> minimal k, cheap geometry
    cheap = advisor.suggest_config_cost(N, 0.0)
    assert cheap.k <= 4
    # work saved huge: FPR dominates -> tight filter
    tight = advisor.suggest_config_cost(N, 1e8)
    assert fprmod.fpr(tight, N) < 1e-4


def _expensive_512(cfg: BloomConfig) -> float:
    return 1e9 if cfg.block_bits == 512 else advisor._model_probe_ns(cfg)


@pytest.mark.parametrize("source", ["explicit-table", "explicit-callable"])
def test_measured_table_overrides_model(source):
    """Measured probe costs — a table or a callable such as
    ``measure_probe_ns`` — must steer the choice: make one geometry absurdly
    expensive and verify it is never chosen."""
    if source == "explicit-table":
        probe_ns = {(c.block_bits, c.sectors, c.zones, c.k): _expensive_512(c)
                    for c in advisor._candidate_configs(N)}
    else:
        probe_ns = _expensive_512
    assert advisor.resolve_probe_cost(probe_ns)[1] == source
    pick = advisor.suggest_config_cost(N, 1_000.0, probe_ns=probe_ns)
    assert pick.block_bits != 512


def test_advisor_opens_no_file(monkeypatch):
    """Library results never depend on a file a bench run wrote: with no
    explicit costs the advisor prices from the fitted model without opening
    anything."""
    def no_file(*a, **kw):
        raise AssertionError("the advisor opened a file")

    monkeypatch.setattr(builtins, "open", no_file)
    monkeypatch.setattr(pathlib.Path, "read_text", no_file)
    assert advisor.resolve_probe_cost(None)[1] == "fitted-model"
    assert isinstance(advisor.suggest_config_cost(N, 5_000.0), BloomConfig)


def test_misspelt_geometry_key_raises():
    """Only a geometry's rejection of an (m, k) pair is skipped; a bad
    geometry dict surfaces as its own error, not as 'no candidate configs'."""
    with pytest.raises(TypeError):
        advisor.suggest_config_cost(
            1000, 100.0, geometries=[dict(word_bit=64, words_per_block=8)])


def test_measure_probe_ns_runs():
    cfg = BloomConfig(m_bits=1 << 20, k=4, word_bits=64, words_per_block=8, sectors=1)
    ns = advisor.measure_probe_ns(cfg, n_keys=20_000, n_probes=100_000, reps=2)
    assert 0.5 < ns < 10_000  # sane range, not a timing artifact


def test_small_n_still_yields_candidates():
    """m_hi used to fall below the 512-bit m_lo for n <= ~21 keys, so the
    candidate generator yielded nothing and suggest_config_cost crashed."""
    for n in (1, 10, 21):
        cfg = advisor.suggest_config_cost(n, 100.0)
        assert cfg.m_bits >= 512, (n, cfg)
