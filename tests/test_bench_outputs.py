"""bench.py writes only git-ignored files, so a bench run never dirties the
checkout and nothing tracked depends on the last run."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True)


def test_bench_writes_only_ignored_paths(monkeypatch):
    try:
        in_checkout = _git("rev-parse", "--is-inside-work-tree").returncode == 0
    except FileNotFoundError:  # no git binary
        in_checkout = False
    if not in_checkout:
        pytest.skip("not a git checkout")
    monkeypatch.setattr(sys, "path", list(sys.path))  # bench.py extends it
    spec = importlib.util.spec_from_file_location("bench_cli", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    # datagen.corpus_parquet's cache directory under CACHE_DIR
    corpus_file = os.path.join(bench.CACHE_DIR, "corpus_n200000_s42", "part-00000.parquet")
    assert _git("check-ignore", "-q", corpus_file).returncode == 0
