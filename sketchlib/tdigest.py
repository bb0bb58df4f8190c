"""t-digest — NumPy kernels (vectorized k1 scale-space clustering).

Dunning & Ertl, "Computing Extremely Accurate Quantiles Using t-Digests".
Not in the reference; mandated by the north rule (BASELINE.json:14) as the
practical quantile sketch (no worst-case bound — tests use q(1-q)-scaled
tolerance; KLL is the guaranteed-bound sibling).

Construction is *static k1-space binning*, fully vectorized: sort, compute
each item's mid-quantile q, assign cluster id = floor(k1(q)) with
``k1(q) = (compression / (2 pi)) * asin(2q - 1)``, aggregate weighted means
per cluster with ``np.bincount``. Deterministic given the input multiset
(sort first), so merge = centroid-list concat is order-insensitive and the
final estimate-time recompression is permutation-invariant (T4 contract).
One merge, n-ary: ``merge_many_blobs`` (``merge_blobs(a, b)`` is its
two-input case) concatenates all inputs and compresses at most once.

Payload: ``<u8 n_total`` + interleaved ``(mean: f8, weight: f8)`` centroids.
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib import blob as blobmod
from sketchlib.config import SketchConfigError, TDigestConfig


def _k1_bins(q: np.ndarray, compression: float) -> np.ndarray:
    k = (compression / (2.0 * np.pi)) * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))
    return np.floor(k).astype(np.int64)


def compress(means: np.ndarray, weights: np.ndarray, compression: float) -> tuple[np.ndarray, np.ndarray]:
    """Cluster (means, weights) into <= ~compression centroids. Pure function
    of the input multiset: sorts by (mean, weight) first."""
    if means.size == 0:
        return means, weights
    order = np.lexsort((weights, means))
    m, w = means[order], weights[order]
    total = w.sum()
    cum = np.cumsum(w)
    q_mid = (cum - w / 2.0) / total
    bins = _k1_bins(q_mid, compression)
    bins -= bins.min()
    wsum = np.bincount(bins, weights=w)
    msum = np.bincount(bins, weights=w * m)
    nz = wsum > 0
    return (msum[nz] / wsum[nz]).astype(np.float64), wsum[nz].astype(np.float64)


# Fixed ingest quantum (see sketchlib/kll.py): recompression fires only at
# exact multiples of this many buffered values, so the serialized centroid
# list depends on the per-partition value sequence alone, not on how the
# engine batched it (round-3 VERDICT item 7 — cross-engine byte parity).
INGEST_QUANTUM = 65536


class TDigest:
    __slots__ = ("cfg", "means", "weights", "n", "_pending", "_pending_size")

    def __init__(self, cfg: TDigestConfig):
        self.cfg = cfg
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.n = 0
        self._pending: list[np.ndarray] = []
        self._pending_size = 0

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self._pending.append(v)
        self._pending_size += int(v.size)
        while self._pending_size >= INGEST_QUANTUM:
            buf = np.concatenate(self._pending)
            self._ingest(buf[:INGEST_QUANTUM])
            rest = buf[INGEST_QUANTUM:]
            self._pending = [rest] if rest.size else []
            self._pending_size = int(rest.size)

    def _ingest(self, v: np.ndarray) -> None:
        self.n += int(v.size)
        self.means = np.concatenate([self.means, v])
        self.weights = np.concatenate([self.weights, np.ones(v.size)])
        self.means, self.weights = compress(self.means, self.weights, self.cfg.compression)

    def _flush(self) -> None:
        if self._pending_size:
            buf = np.concatenate(self._pending)
            self._pending = []
            self._pending_size = 0
            self._ingest(buf)

    def quantiles(self, qs) -> np.ndarray:
        self._flush()
        qs = np.asarray(qs, dtype=np.float64)
        if self.means.size == 0:
            return np.full(qs.shape, np.nan)
        m, w = compress(self.means, self.weights, self.cfg.compression)
        total = w.sum()
        # centroid "center" ranks; linear interpolation between centers
        centers = np.cumsum(w) - w / 2.0
        targets = np.clip(qs, 0.0, 1.0) * total
        return np.interp(targets, centers, m, left=m[0], right=m[-1])

    def to_payload(self) -> bytes:
        # Canonical form: centroids serialized sorted by (mean, weight) —
        # the state is a multiset (quantiles() recompresses, which sorts),
        # so sorted bytes are a pure function of it. See kll.to_payload.
        self._flush()
        head = struct.pack("<Q", self.n)
        order = np.lexsort((self.weights, self.means))
        body = np.column_stack(
            [self.means[order], self.weights[order]]).astype(np.float64).tobytes()
        return head + body

    @classmethod
    def from_payload(cls, cfg: TDigestConfig, payload: bytes) -> "TDigest":
        # corrupt payloads raise SketchConfigError, not struct.error /
        # reshape ValueError (same contract as blob.unpack)
        if len(payload) < 8 or (len(payload) - 8) % 16:
            raise SketchConfigError(
                f"tdigest payload length {len(payload)} is not a header plus "
                "whole (mean, weight) pairs")
        (n,) = struct.unpack_from("<Q", payload, 0)
        arr = np.frombuffer(payload, dtype=np.float64, offset=8).reshape(-1, 2)
        out = cls(cfg)
        out.n = n
        out.means = arr[:, 0].copy()
        out.weights = arr[:, 1].copy()
        return out


def new_builder(cfg):
    return TDigest(cfg)


def build_blob(values: np.ndarray, cfg: TDigestConfig) -> bytes:
    t = TDigest(cfg)
    t.update(values)
    return blobmod.pack("tdigest", cfg, t.to_payload())


def _fold(cfg: TDigestConfig, payloads: list) -> bytes:
    """Concat ALL centroid lists, then at most one multiset-deterministic
    compress: byte-identical under any permutation of the inputs (a fold of
    pairwise merges could hit the ``max_centroids`` guard at order-dependent
    points). See ``kll._fold``."""
    states = [TDigest.from_payload(cfg, p) for p in payloads]
    out = TDigest(cfg)
    out.n = sum(s.n for s in states)
    out.means = np.concatenate([s.means for s in states])
    out.weights = np.concatenate([s.weights for s in states])
    if out.means.size > cfg.max_centroids:  # lazy guard for wide merges
        out.means, out.weights = compress(out.means, out.weights, cfg.compression)
    return out.to_payload()


def merge_many_blobs(blobs: list[bytes]) -> bytes:
    return blobmod.merge("tdigest", blobs, _fold)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    return merge_many_blobs([a, b])


def quantiles_blob(blob: bytes, qs) -> np.ndarray:
    _, cfg, payload = blobmod.unpack(blob, "tdigest")
    return TDigest.from_payload(cfg, payload).quantiles(qs)
