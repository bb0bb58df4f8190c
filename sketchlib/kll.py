"""KLL quantile sketch — NumPy kernels.

Karnin, Lang, Liberty, "Optimal Quantile Approximation in Streams", FOCS 2016.
Not in the reference (filter library); mandated by the north rule
(BASELINE.json:14) as the guaranteed-bound quantile sketch (rank error eps
w.p. 1-delta in space O((1/eps) sqrt(log 1/delta))).

Representation: a list of levels; items at level h carry weight ``2**h``.
Level capacities follow the (2/3)-geometric schedule. Compaction coins are
**content-derived** (hash of the sorted level bytes), so every operation is a
pure function of the input multiset — this is the "seeded" determinism
contract that T4's permutation tests rely on.

Merge is **lazy** and n-ary — one merge, ``merge_many_blobs``, of which
``merge_blobs(a, b)`` is the two-input case: level-wise concatenation of all
inputs (a commutative, associative multiset union → estimates identical under
any merge order/shape), then one deterministic compaction guard pass for
levels over ``lazy_factor * k`` items, so a 1000-partition tree merge stays
bounded (~k * lazy_factor * levels floats, a few MB at defaults).

Payload: ``<u8 n_total, <u4 n_levels, <u8 counts[n_levels], f8 items...``.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from sketchlib import blob as blobmod
from sketchlib.config import KLLConfig, SketchConfigError
from sketchlib.hashing import splitmix64


def _capacity(cfg: KLLConfig, h: int, n_levels: int) -> int:
    return max(2, int(math.ceil(cfg.k * (2.0 / 3.0) ** (n_levels - 1 - h))))


def _coin(arr: np.ndarray) -> int:
    """Deterministic compaction coin from level content (order-insensitive:
    callers pass the *sorted* array)."""
    h = splitmix64(arr.view(np.uint64), seed=7)
    x = np.bitwise_xor.reduce(h) if h.size else np.uint64(0)
    return int(x & np.uint64(1))


# Fixed ingest quantum: arriving values are buffered and compacted only at
# exact multiples of this many values, so the serialized state is a pure
# function of the per-partition VALUE SEQUENCE — independent of how the
# engine chunked it (Spark's 64Ki Arrow batches vs pyarrow's per-file reads
# used to yield layout-divergent blobs; round-3 VERDICT item 7).
INGEST_QUANTUM = 65536


class KLL:
    """In-memory KLL state (levels of float64 arrays + exact n)."""

    __slots__ = ("cfg", "levels", "n", "_pending", "_pending_size")

    def __init__(self, cfg: KLLConfig):
        self.cfg = cfg
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
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
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compress(force=True)

    def _flush(self) -> None:
        if self._pending_size:
            buf = np.concatenate(self._pending)
            self._pending = []
            self._pending_size = 0
            self._ingest(buf)

    def _compress(self, force: bool) -> None:
        """Compact any level over capacity (build) or over the lazy guard
        (merge). Sort → drop every other item (content-derived offset) →
        promote survivors with doubled weight."""
        while True:
            H = len(self.levels)
            target = None
            for h, arr in enumerate(self.levels):
                cap = _capacity(self.cfg, h, H)
                lim = cap if force else cap * self.cfg.lazy_factor
                if arr.size > lim:
                    target = h
                    break
            if target is None:
                return
            arr = np.sort(self.levels[target], kind="stable")
            off = _coin(arr)
            if arr.size % 2 == 1:
                # odd: one item stays at this level, rest compacts
                keep, arr = arr[-1:], arr[:-1]
            else:
                keep = np.empty(0, dtype=np.float64)
            promoted = arr[off::2]
            self.levels[target] = keep
            if target + 1 == len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[target + 1] = np.concatenate(
                [self.levels[target + 1], promoted]
            )

    # -- estimation ----------------------------------------------------------

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        self._flush()
        items = np.concatenate(self.levels) if self.levels else np.empty(0)
        weights = np.concatenate(
            [np.full(arr.size, 1 << h, dtype=np.int64) for h, arr in enumerate(self.levels)]
        ) if self.levels else np.empty(0, dtype=np.int64)
        order = np.argsort(items, kind="stable")
        return items[order], weights[order]

    def quantiles(self, qs) -> np.ndarray:
        qs = np.asarray(qs, dtype=np.float64)
        items, weights = self._weighted_items()
        if items.size == 0:
            return np.full(qs.shape, np.nan)
        cum = np.cumsum(weights)
        total = cum[-1]
        ranks = np.clip(qs * total, 1, total)
        pos = np.searchsorted(cum, ranks, side="left")
        return items[np.clip(pos, 0, items.size - 1)]

    def rank(self, values) -> np.ndarray:
        """Estimated normalized rank of each value (fraction of items <= v)."""
        values = np.asarray(values, dtype=np.float64)
        items, weights = self._weighted_items()
        if items.size == 0:
            return np.full(values.shape, np.nan)
        cum = np.concatenate([[0], np.cumsum(weights)])
        pos = np.searchsorted(items, values, side="right")
        return cum[pos] / cum[-1]

    # -- serialization ---------------------------------------------------------

    def to_payload(self) -> bytes:
        # Canonical form: each level serialized SORTED. Within-level order
        # carries no information (compaction and estimation both sort), so
        # sorting makes the bytes a pure function of the level multisets —
        # together with merge_many_blobs this gives byte-identical merged
        # blobs regardless of partition numbering / merge fold order.
        self._flush()
        counts = [arr.size for arr in self.levels]
        head = struct.pack("<QI", self.n, len(counts))
        head += struct.pack(f"<{len(counts)}Q", *counts) if counts else b""
        body = (np.concatenate([np.sort(a, kind="stable") for a in self.levels])
                .astype(np.float64).tobytes() if counts else b"")
        return head + body

    @classmethod
    def from_payload(cls, cfg: KLLConfig, payload: bytes) -> "KLL":
        # corrupt payloads raise SketchConfigError, not struct.error or
        # silently-short level slices (same contract as blob.unpack)
        if len(payload) < 12:
            raise SketchConfigError("kll payload shorter than its header")
        n, n_levels = struct.unpack_from("<QI", payload, 0)
        off = 12
        if len(payload) < off + 8 * n_levels:
            raise SketchConfigError(
                f"kll payload truncated: {n_levels} level counts declared")
        counts = struct.unpack_from(f"<{n_levels}Q", payload, off) if n_levels else ()
        off += 8 * n_levels
        if (len(payload) - off) % 8:
            # a payload truncated mid-item would raise a raw ValueError out
            # of np.frombuffer, breaking the SketchConfigError contract
            raise SketchConfigError(
                "kll payload item region is not a whole number of float64s")
        items = np.frombuffer(payload, dtype=np.float64, offset=off)
        if items.size != sum(counts):
            raise SketchConfigError(
                f"kll payload has {items.size} items, level counts sum to "
                f"{sum(counts)}")
        out = cls(cfg)
        out.n = n
        out.levels = []
        pos = 0
        for c in counts:
            out.levels.append(items[pos : pos + c].copy())
            pos += c
        if not out.levels:
            out.levels = [np.empty(0, dtype=np.float64)]
        return out


def new_builder(cfg):
    return KLL(cfg)


def build_blob(values: np.ndarray, cfg: KLLConfig) -> bytes:
    s = KLL(cfg)
    s.update(values)
    return blobmod.pack("kll", cfg, s.to_payload())


def _fold(cfg: KLLConfig, payloads: list) -> bytes:
    """Level-wise concat of ALL inputs, then ONE lazy-guard compaction pass.
    The concatenated level multisets are unions (order-free) and compaction
    + serialization are pure functions of the multisets, so the result is
    byte-identical under ANY permutation of the inputs — which a fold of
    pairwise merges would not be, since the guard could fire at different
    accumulation points. This is what lets the two build engines
    (physical-partition ids vs file indices) merge to the same bytes."""
    states = [KLL.from_payload(cfg, p) for p in payloads]
    out = KLL(cfg)
    out.n = sum(s.n for s in states)
    H = max(len(s.levels) for s in states)
    out.levels = [
        np.concatenate([s.levels[h] for s in states if h < len(s.levels)]
                       or [np.empty(0, dtype=np.float64)])
        for h in range(H)
    ]
    out._compress(force=False)
    return out.to_payload()


def merge_many_blobs(blobs: list[bytes]) -> bytes:
    return blobmod.merge("kll", blobs, _fold)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    return merge_many_blobs([a, b])


def quantiles_blob(blob: bytes, qs) -> np.ndarray:
    _, cfg, payload = blobmod.unpack(blob, "kll")
    return KLL.from_payload(cfg, payload).quantiles(qs)
