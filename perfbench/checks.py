"""Independent output checkers.

Each checker compares a library output with a value the benchmark computed
itself from its generated inputs, or with a property the method must have,
and returns a list of failure messages (empty = pass). Blobs are decoded
through the library's public read functions; the expected side never
comes from the library.
"""

from __future__ import annotations

import math

import numpy as np

from sketchlib import blob as blobmod, bloom, cms, fpr, hll, kll, tdigest

QS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def kll_eps(k: int) -> float:
    """Double-sided 99% normalized rank error of KLL at ``k`` (DataSketches' fit)."""
    return 2.446 / k ** 0.9433


def tdigest_tol(q: float, compression: float) -> float:
    """The tolerance the t-digest tests document: q(1-q)-scaled, 0.5% floor."""
    return max(0.005, 16.0 * q * (1.0 - q) / compression)


def binom_interval(n: int, p: float, alpha: float = 1e-4) -> tuple[int, int]:
    """Counts [lo, hi] holding Binomial(n, p) with probability >= 1 - alpha."""
    if p <= 0:
        return 0, 0
    mean, sd = n * p, math.sqrt(n * p * (1 - p))
    k = np.arange(0, int(mean + 12 * sd + 30) + 1, dtype=np.float64)
    logpmf = (math.lgamma(n + 1) - np.array([math.lgamma(x + 1) for x in k])
              - np.array([math.lgamma(n - x + 1) for x in k])
              + k * math.log(p) + (n - k) * math.log1p(-p))
    cdf = np.cumsum(np.exp(logpmf))
    lo = int(np.searchsorted(cdf, alpha / 2, side="right"))
    hi = int(np.searchsorted(cdf, 1 - alpha / 2, side="left"))
    return lo, min(hi, n)


def same_blobs(label: str, got: dict, ref: dict) -> list[str]:
    """Byte identity of every (sketch, group) blob."""
    errs = []
    if set(got) != set(ref):
        errs.append(f"{label}: blob keys {sorted(got)} != {sorted(ref)}")
    for key in sorted(set(got) & set(ref)):
        if got[key] != ref[key]:
            errs.append(f"{label}: blob {key} differs ({len(got[key])} vs {len(ref[key])} bytes)")
    return errs


def hll_tol(blob: bytes) -> float:
    """4 standard errors of one HLL estimate, relative: 4 * 1.04 / sqrt(m)."""
    _, cfg, _ = blobmod.unpack(blob)
    return 4 * 1.04 / math.sqrt(cfg.m)


def hll_ok(label: str, blob: bytes, exact: int) -> list[str]:
    est, tol = hll.estimate_blob(blob), hll_tol(blob)
    if abs(est - exact) > tol * exact:
        return [f"{label}: HLL {est:.0f} vs exact {exact} (tolerance {tol:.4f})"]
    return []


def hll_sets_ok(label: str, blobs: list[bytes], exact: int) -> list[str]:
    """HLLs of ``len(blobs)`` disjoint sets of ``exact`` distinct keys each:
    every estimate within its own bound, and their mean relative error
    within 4 standard errors of a mean, 4 * 1.04 / sqrt(m * len(blobs)),
    the bias a (near-)unbiased estimator must stay inside."""
    errs = [e for i, b in enumerate(blobs) for e in hll_ok(f"{label} set {i}", b, exact)]
    rel = [hll.estimate_blob(b) / exact - 1 for b in blobs]
    bias, tol = float(np.mean(rel)), hll_tol(blobs[0]) / math.sqrt(len(blobs))
    if abs(bias) > tol:
        errs.append(f"{label}: HLL mean relative error {bias:+.4f} over {len(blobs)} sets "
                    f"of {exact} keys (tolerance {tol:.4f})")
    return errs


def cms_ok(label: str, blob: bytes, counts: np.ndarray) -> list[str]:
    """Never below the exact count; within eps*N on >= (1-delta) of the
    checked tokens (every token id present in the input)."""
    _, cfg, _ = blobmod.unpack(blob)
    tokens = np.flatnonzero(counts)
    true = counts[tokens]
    est = cms.query_blob(tokens.astype(np.int64), blob)
    errs = []
    if (est < true).any():
        errs.append(f"{label}: CMS below exact count on {(est < true).sum()} tokens")
    over = float((est - true > cfg.eps * counts.sum()).mean())
    if over > cfg.delta:
        errs.append(f"{label}: CMS over eps*N on {over:.4f} of tokens (delta {cfg.delta})")
    return errs


def _rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, est, "left") / n
    hi = np.searchsorted(sorted_vals, est, "right") / n
    return 0.0 if lo <= q <= hi else min(abs(lo - q), abs(hi - q))


def kll_ok(label: str, blob: bytes, sorted_vals: np.ndarray) -> list[str]:
    _, cfg, _ = blobmod.unpack(blob)
    eps = kll_eps(cfg.k)
    est = kll.quantiles_blob(blob, QS)
    return [f"{label}: KLL q={q} rank error {e:.4f} > {eps:.4f}"
            for q, x in zip(QS, est) if (e := _rank_error(sorted_vals, x, q)) > eps]


def tdigest_ok(label: str, blob: bytes, sorted_vals: np.ndarray) -> list[str]:
    _, cfg, _ = blobmod.unpack(blob)
    est = tdigest.quantiles_blob(blob, QS)
    return [f"{label}: t-digest q={q} rank error {e:.4f} > {tdigest_tol(q, cfg.compression):.4f}"
            for q, x in zip(QS, est)
            if (e := _rank_error(sorted_vals, x, q)) > tdigest_tol(q, cfg.compression)]


def bloom_no_false_negatives(label: str, blob: bytes, members: np.ndarray) -> list[str]:
    miss = int((~bloom.contains_blob(members, blob)).sum())
    return [f"{label}: Bloom false negatives on {miss} of {members.size} members"] if miss else []


def bloom_fp_ok(label: str, blob: bytes, n_inserted: int, n_probed: int, n_fp: int) -> list[str]:
    """False positives on known non-members inside the binomial interval of
    the analytic rate ``fpr.fpr`` at the inserted key count."""
    _, cfg, _ = blobmod.unpack(blob)
    p = fpr.fpr(cfg, n_inserted)
    lo, hi = binom_interval(n_probed, p)
    if not lo <= n_fp <= hi:
        return [f"{label}: {n_fp} false positives of {n_probed}, expected [{lo}, {hi}] at fpr {p:.3g}"]
    return []


def bloom_fp_probe(label: str, blob: bytes, n_inserted: int, non_members: np.ndarray) -> list[str]:
    n_fp = int(bloom.contains_blob(non_members, blob).sum())
    return bloom_fp_ok(label, blob, n_inserted, non_members.size, n_fp)


def count_ok(label: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{label}: count {got}, expected {want}"]


def pairs_ok(label: str, reported: dict[tuple[str, str], float], planted: list[tuple],
             exact_jaccard, threshold: float = 0.7, must_find: float = 0.85,
             tolerance: float = 0.1) -> list[str]:
    """``planted``: (id_a, id_b, exact_jaccard). Every planted pair at or above
    ``must_find`` is reported; every reported pair's exact shingle Jaccard
    (``exact_jaccard(a, b)``, computed by the benchmark) is at least
    ``threshold - tolerance``. The tolerance covers the 128-slot estimate's
    sampling error (sd <= 0.045 at the threshold)."""
    errs = []
    missed = [(a, b, j) for a, b, j in planted
              if j >= must_find and tuple(sorted((a, b))) not in reported]
    if missed:
        errs.append(f"{label}: {len(missed)} planted pairs >= {must_find} not reported, e.g. {missed[0]}")
    low = [(a, b, j) for (a, b) in reported
           if (j := exact_jaccard(a, b)) < threshold - tolerance]
    if low:
        errs.append(f"{label}: {len(low)} reported pairs below {threshold - tolerance}, e.g. {low[0]}")
    return errs
