"""bench/noise.py attribution primitives — loose bounds only (the host is
multi-tenant, so assertions must hold under arbitrary external load)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench"))
import noise  # noqa: E402


def test_window_monitor_attributes_own_busy_loop():
    with noise.WindowMonitor() as mon:
        t0 = time.perf_counter()
        x = 0
        while time.perf_counter() - t0 < 1.2:
            x += sum(range(1000))
    # our single busy python thread must show up as ~1 core of "ours"
    assert 0.4 <= mon.ours_cores <= 2.5, mon.ours_cores
    assert mon.busy_cores >= mon.ours_cores * 0.5
    assert 0.0 <= mon.steal_pct <= 100.0
    assert mon.tenant_cores >= 0.0


def test_window_monitor_idle_window():
    with noise.WindowMonitor() as mon:
        time.sleep(1.0)
    # sleeping: our own tree contributes (near) nothing
    assert mon.ours_cores < 0.6, mon.ours_cores


def test_spin_and_clean_ratio_sane():
    s = noise.spin_ms()
    assert 1.0 < s < 10_000
    assert noise.clean_ratio(2) <= noise.clean_ratio(8) <= noise.clean_ratio(32)


def test_spin_observations_formats(tmp_path):
    """noise.spin_observations is THE single reader of
    .cache/bench/spin_floor.json: both the observation-list and legacy
    single-value formats parse, only observations of the last 7 days count;
    missing / corrupt / aged-out files yield []."""
    floor_dir = tmp_path / ".cache" / "bench"
    floor_dir.mkdir(parents=True)
    f = floor_dir / "spin_floor.json"
    now = time.time()
    aged = now - 8 * 86400
    f.write_text(json.dumps({"spin_floor_ms": 10.0, "observations": [
        [aged, 10.0], [now - 60, 25.0], [now, 20.5]]}))
    assert [o[1] for o in noise.spin_observations(str(tmp_path))] == [25.0, 20.5]
    f.write_text('{"spin_floor_ms": 33.0}')  # legacy single-value
    assert [o[1] for o in noise.spin_observations(str(tmp_path))] == [33.0]
    for corrupt in ("[1, 2]", "not json", "{}",
                    '{"observations": [[]]}',        # malformed entry: o[1] raises IndexError
                    '{"observations": [[1.0]]}',     # ditto, one-element entry
                    json.dumps({"spin_floor_ms": 10.0,
                                "observations": [[aged, 10.0]]})):  # aged out
        f.write_text(corrupt)
        assert noise.spin_observations(str(tmp_path)) == []
    f.unlink()
    assert noise.spin_observations(str(tmp_path)) == []
