"""A16 — performance-optimal config selection: cost(cfg) = probe + fpr*t_w.
Property tests over a t_w sweep (the reference's skyline behavior)."""

from __future__ import annotations

import json
import time

import pytest

from sketchlib import advisor, fpr as fprmod
from sketchlib.config import BloomConfig

N = 1_000_000
SWEEP = [0.0, 10.0, 100.0, 1_000.0, 10_000.0, 1e6, 1e8]


@pytest.fixture(autouse=True)
def _no_persisted_calibration(monkeypatch, tmp_path):
    """The model-based properties below must not be perturbed by a
    calibration curve lying around in BENCH/ — point the loader at an empty
    location unless a test writes one itself."""
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(tmp_path / "absent_calib.json"))


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


def test_measured_table_overrides_model():
    """A measured probe table must steer the choice: make one geometry
    absurdly expensive and verify it is never chosen."""
    expensive = {}
    for cfg in advisor._candidate_configs(N):
        key = (cfg.block_bits, cfg.sectors, cfg.zones, cfg.k)
        expensive[key] = 1e9 if cfg.block_bits == 512 else advisor._model_probe_ns(cfg)
    pick = advisor.suggest_config_cost(N, 1_000.0, probe_ns=expensive)
    assert pick.block_bits != 512


def test_bench_probe_table_not_loaded(tmp_path, monkeypatch):
    """A probe table in the format bench.py used to persist, fresh and from
    this host, at the path SKETCHLIB_PROBE_TABLE used to name, must not steer
    the selector: library results never depend on what a bench run wrote."""
    path = tmp_path / "probe_table.json"
    monkeypatch.setenv("SKETCHLIB_PROBE_TABLE", str(path))
    model_pick = advisor.suggest_config_cost(N, 5_000.0, probe_ns=advisor._model_probe_ns)
    rows = []
    for cfg in advisor._candidate_configs(N):
        ns = 1e9 if cfg.block_bits == model_pick.block_bits else 1.0
        rows.append(dict(block_bits=cfg.block_bits, sectors=cfg.sectors,
                         zones=cfg.zones, k=cfg.k, m_bits=cfg.m_bits, ns=ns))
    path.write_text(json.dumps({"rows": rows, "saved_at": time.time(),
                                "host": "x", "host_fp": advisor.host_fingerprint()}))
    assert advisor.resolve_probe_cost(None)[1] == "fitted-model"
    assert advisor.suggest_config_cost(N, 5_000.0) == model_pick


def test_measure_probe_ns_runs():
    cfg = BloomConfig(m_bits=1 << 20, k=4, word_bits=64, words_per_block=8, sectors=1)
    ns = advisor.measure_probe_ns(cfg, n_keys=20_000, n_probes=100_000, reps=2)
    assert 0.5 < ns < 10_000  # sane range, not a timing artifact


# --- A15 size-sweep calibration (bench/calibrate.py persists, advisor consumes)

def _geo64(k=4):
    return dict(block_bits=64, sectors=1, zones=1, k=k)


def test_calibration_best_per_point_merge(tmp_path, monkeypatch):
    path = tmp_path / "calibration.json"
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(path))
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 20, ns=30.0)])
    # a worse (noisier) re-measurement must NOT displace the best point
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 20, ns=45.0)])
    assert advisor.load_calibration()[(64, 1, 1, 4)] == [(1 << 20, 30.0)]
    # a better one must
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 20, ns=22.0),
                              dict(**_geo64(), m_bits=1 << 24, ns=50.0)])
    assert advisor.load_calibration()[(64, 1, 1, 4)] == [(1 << 20, 22.0),
                                                         (1 << 24, 50.0)]


def test_small_n_still_yields_candidates():
    """m_hi used to fall below the 512-bit m_lo for n <= ~21 keys, so the
    candidate generator yielded nothing and suggest_config_cost crashed."""
    for n in (1, 10, 21):
        cfg = advisor.suggest_config_cost(n, 100.0)
        assert cfg.m_bits >= 512, (n, cfg)


def test_calibration_ts_less_legacy_points_expire(tmp_path, monkeypatch):
    """A point WITHOUT a ts (pre-ts format / hand-edited file) must be pinned
    to the old file's saved_at when merged — not ride every save's refreshed
    saved_at at load time and steer the advisor forever."""
    path = tmp_path / "calibration.json"
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(path))
    old_saved = time.time() - 8 * 86400
    body = {"host_fp": advisor.host_fingerprint(), "host": "x",
            "saved_at": old_saved,
            "points": [dict(**_geo64(), m_bits=1 << 20, ns=30.0)]}  # no ts
    path.write_text(json.dumps(body))
    # saving a DIFFERENT point merges the legacy one through
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 24, ns=50.0)])
    curves = advisor.load_calibration()
    # the ts-less legacy point is stale (pinned to old saved_at) -> dropped;
    # only the fresh point survives
    assert curves[(64, 1, 1, 4)] == [(1 << 24, 50.0)]


def test_calibration_remeasurement_refreshes_timestamp(tmp_path, monkeypatch):
    """A worse re-measurement keeps the best ns but must refresh the point's
    ts: the age cap tracks 'last confirmed', not 'first measured'. Otherwise
    a host whose timings regressed keeps re-saving a stale-ts best point that
    load_calibration then drops — the curve vanishes despite recent runs."""
    path = tmp_path / "calibration.json"
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(path))
    old_ts = time.time() - 8 * 86400  # beyond CALIBRATION_MAX_AGE_S
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 20, ns=30.0,
                                   ts=old_ts)])
    assert advisor.load_calibration() is None  # stale on its own
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 20, ns=45.0)])
    assert advisor.load_calibration()[(64, 1, 1, 4)] == [(1 << 20, 30.0)]


def test_calibration_malformed_point_does_not_drop_history(tmp_path,
                                                           monkeypatch):
    path = tmp_path / "calibration.json"
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(path))
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 20, ns=30.0),
                              dict(**_geo64(), m_bits=1 << 24, ns=50.0)])
    data = json.loads(path.read_text())
    # a truncated hand-edited entry FIRST in the list must not abort the
    # merge loop and silently discard the good points after it on rewrite
    data["points"].insert(0, {"block_bits": 64})
    # ...and a point with valid identity but missing ns (the merge compares
    # on ns — it must be skipped, not crash the whole save)
    data["points"].insert(1, dict(**_geo64(), m_bits=1 << 22))
    path.write_text(json.dumps(data))
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 26, ns=70.0),
                              dict(**_geo64(), m_bits=1 << 22, ns=40.0)])
    assert advisor.load_calibration()[(64, 1, 1, 4)] == [
        (1 << 20, 30.0), (1 << 22, 40.0), (1 << 24, 50.0), (1 << 26, 70.0)]


def test_calibration_stale_tail_drops_curve(tmp_path, monkeypatch):
    """If a geometry's LARGEST measured size ages out (e.g. only --quick
    re-runs after the full sweep went stale), the above-range clamp would
    price DRAM-bound candidates at a cache-resident point — the whole curve
    must drop (honest fallback), not silently shrink."""
    path = tmp_path / "calibration.json"
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(path))
    old_ts = time.time() - 8 * 86400
    advisor.save_calibration([
        dict(**_geo64(), m_bits=1 << 20, ns=20.0),          # fresh
        dict(**_geo64(), m_bits=1 << 30, ns=200.0, ts=old_ts),  # stale tail
        dict(block_bits=512, sectors=1, zones=1, k=4,
             m_bits=1 << 20, ns=25.0),                      # other geo, fresh
    ])
    curves = advisor.load_calibration()
    assert (64, 1, 1, 4) not in curves          # tail-stale -> dropped
    assert (512, 1, 1, 4) in curves             # untouched geometry survives
    # a stale point BELOW the fresh maximum only thins the curve
    advisor.save_calibration([
        dict(**_geo64(), m_bits=1 << 16, ns=18.0, ts=old_ts),
        dict(**_geo64(), m_bits=1 << 30, ns=200.0),
    ])
    assert advisor.load_calibration()[(64, 1, 1, 4)] == [
        (1 << 20, 20.0), (1 << 30, 200.0)]


def test_host_fingerprint_never_core_count_only(tmp_path, monkeypatch):
    fp = advisor.host_fingerprint()
    assert fp.rsplit("/", 1)[0], f"core-count-only fingerprint: {fp!r}"
    # /proc/cpuinfo readable but WITHOUT a "model name" line (aarch64-style):
    # must fall back to platform info, not collapse to "/Nc" which would
    # accept calibration tables from genuinely different hardware
    import builtins
    real_open = builtins.open

    def fake_open(path, *a, **kw):
        if str(path) == "/proc/cpuinfo":
            return real_open(tmp_path / "cpuinfo", *a, **kw)
        return real_open(path, *a, **kw)

    (tmp_path / "cpuinfo").write_text("processor : 0\nBogoMIPS : 50.0\n")
    monkeypatch.setattr(builtins, "open", fake_open)
    fp2 = advisor.host_fingerprint()
    assert fp2.rsplit("/", 1)[0], f"core-count-only fingerprint: {fp2!r}"


def test_calibration_interpolation_and_fallback():
    curves = {(64, 1, 1, 4): [(1 << 20, 20.0), (1 << 24, 60.0)]}
    fn = advisor._calibration_cost_fn(curves, fallback=lambda cfg: 999.0)
    mk = lambda m: BloomConfig(m_bits=m, k=4, word_bits=64, words_per_block=1)
    assert fn(mk(1 << 20)) == 20.0  # exact at knots
    assert fn(mk(1 << 24)) == 60.0
    assert fn(mk(1 << 22)) == pytest.approx(40.0)  # linear in log2(m)
    assert fn(mk(1 << 16)) == 20.0  # clamped below the measured range
    assert fn(mk(1 << 28)) == 60.0  # clamped above (already memory-bound)
    # geometry with no curve -> per-config fallback
    other = BloomConfig(m_bits=1 << 22, k=8, word_bits=64, words_per_block=8,
                        sectors=8)
    assert fn(other) == 999.0


def test_calibration_preferred_over_measured_table(tmp_path, monkeypatch):
    """Source precedence: explicit > calibration-curve > fitted-model; and
    the curve actually steers the pick."""
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(tmp_path / "cal.json"))
    assert advisor.resolve_probe_cost(None)[1] == "fitted-model"
    # calibration that makes every 512-bit-block geometry absurdly expensive
    points = []
    for cfg in advisor._candidate_configs(N):
        ns = 1e9 if cfg.block_bits == 512 else 10.0
        points.append(dict(block_bits=cfg.block_bits, sectors=cfg.sectors,
                           zones=cfg.zones, k=cfg.k, m_bits=cfg.m_bits, ns=ns))
    advisor.save_calibration(points)
    fn, source = advisor.resolve_probe_cost(None)
    assert source == "calibration-curve"
    assert advisor.suggest_config_cost(N, 1_000.0).block_bits != 512


def test_calibration_foreign_host_and_stale_points_rejected(tmp_path):
    path = tmp_path / "cal.json"
    advisor.save_calibration([dict(**_geo64(), m_bits=1 << 20, ns=30.0)],
                             path=path)
    data = json.loads(path.read_text())
    data["host_fp"] = "some other cpu/8c"
    path.write_text(json.dumps(data))
    assert advisor.load_calibration(path) is None
    # same host but every point past the age cap -> None (model fallback)
    data["host_fp"] = advisor.host_fingerprint()
    data["points"][0]["ts"] = 0.0
    path.write_text(json.dumps(data))
    assert advisor.load_calibration(path) is None
    assert advisor.load_calibration(path, max_age_s=1e12) is not None


def test_calibrate_sweep_smoke(tmp_path, monkeypatch):
    """bench/calibrate.py --quick end-to-end on tiny sizes: measures real
    kernel points, persists, and flips the advisor's cost source."""
    import importlib.util
    import os
    spec = importlib.util.spec_from_file_location(
        "calibrate",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "..", "bench", "calibrate.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setenv(advisor.CALIBRATION_ENV, str(tmp_path / "cal.json"))
    pts = mod.sweep(quick=True, sizes=[1 << 15, 1 << 18], reps=1,
                    n_probes=50_000)
    assert len(pts) >= 4 and all(0.5 < p["ns"] < 100_000 for p in pts)
    advisor.save_calibration(pts)
    assert advisor.resolve_probe_cost(None)[1] == "calibration-curve"
    # the sweep's k menu must cover the advisor's full candidate menu, or
    # skipped-k candidates get fitted-model prices mixed into a measured
    # skyline (silently, under a 'calibration-curve' provenance)
    cand_ks = {c.k for c in advisor._candidate_configs(1_000_000)}
    assert cand_ks <= set(mod.K_MENU)
    # corrupt spin-floor files degrade to the 0.0 sentinel, never abort a
    # multi-minute sweep
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    floor_dir = tmp_path / ".cache" / "bench"
    floor_dir.mkdir(parents=True)
    for corrupt in ('{"spin_floor_ms": 0}', "[1, 2]", "not json"):
        (floor_dir / "spin_floor.json").write_text(corrupt)
        assert mod._epoch_factor() == 0.0
