"""HyperLogLog — dense/sparse, bias-corrected — NumPy kernels.

Not present in the reference (bloomfilter-bsd is a membership-filter library);
mandated by the north rule (BASELINE.json:14) as part of the mergeable-sketch
family. Algorithm: Flajolet, Fuchs, Gandouet, Meunier 2007, with the classic
linear-counting small-range correction (the recipe Spark's own HLL++ refines).

Payload (format byte 0): ``0x00`` + ``2**p`` uint8 registers (dense), or
``0x01`` + n_pairs int32-LE + idx int32-LE[n] + rank uint8[n] sorted by idx
(sparse — the HLL++-style low-cardinality encoding). A builder starts sparse
and densifies at ``m/8`` distinct registers, so a grouped build with 10^5
mostly-small groups costs KBs per group instead of 2^p bytes each. Merge =
register max; the final mode (sparse iff the MERGED register count stays
under the dense break-even) is a function of content only, so blobs remain
byte-identical under any merge order/shape (T4).

Standard error = 1.04 / sqrt(2**p).

Hashing: splitmix64 finalizer (NOT multiplicative — token ids are dense
integers, the adversarial case for mul-hash; SURVEY.md §2.A A9).
"""

from __future__ import annotations

import math

import numpy as np

from sketchlib import blob as blobmod
from sketchlib.config import HLLConfig, SketchConfigError
from sketchlib.hashing import bit_length64, splitmix64

_CHUNK = 1 << 22


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


_DENSE = 0
_SPARSE = 1


def empty(cfg: HLLConfig) -> np.ndarray:
    return np.zeros(cfg.m, dtype=np.uint8)


def _batch_pairs(values: np.ndarray, cfg: HLLConfig) -> tuple[np.ndarray, np.ndarray]:
    """(idx, rank) with one entry per distinct register touched by the batch
    (max rank per register), idx-sorted — hashing then delegating the
    max-per-register step to ``_consolidate_pairs`` (one home for the
    sort-combined trick and its 6-bit-rank invariant)."""
    low_bits = 64 - cfg.p
    low_mask = np.uint64((1 << low_bits) - 1)
    h = splitmix64(values, seed=cfg.hash_seed)
    idx = h >> np.uint64(low_bits)
    rank = (low_bits + 1 - bit_length64(h & low_mask)).astype(np.uint64)
    return _consolidate_pairs(idx, rank)


def insert(regs: np.ndarray, values: np.ndarray, cfg: HLLConfig) -> None:
    """Update dense registers in place with a batch of int-like values."""
    for lo in range(0, values.shape[0], _CHUNK):
        ui, ur = _batch_pairs(values[lo : lo + _CHUNK], cfg)
        regs[ui] = np.maximum(regs[ui], ur)


def _consolidate_pairs(idx: np.ndarray, rank: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Max rank per register over possibly-duplicated pairs; idx-sorted.
    Sort trick: ``maximum.at`` is slow; sort the combined ``idx << 6 | rank``
    key and take the last entry per idx. The 6-bit rank field is safe because
    ``p >= 4`` caps rank at 61 — widen BOTH the shift and mask if that ever
    changes."""
    if idx.size == 0:
        return idx.astype(np.int64), rank.astype(np.uint8)
    combined = np.sort((idx.astype(np.uint64) << np.uint64(6)) | rank.astype(np.uint64))
    si = (combined >> np.uint64(6)).astype(np.int64)
    last = np.flatnonzero(np.r_[si[1:] != si[:-1], True])
    return si[last], (combined[last] & np.uint64(63)).astype(np.uint8)


def _encode(idx_or_regs, rank, m: int) -> bytes:
    """Canonical payload: sparse iff the pair encoding is smaller than dense
    — a pure function of register content, so merge order cannot change it."""
    if rank is None:
        regs = idx_or_regs
        idx = np.flatnonzero(regs)
        if idx.size * 5 + 4 < m:
            return (bytes([_SPARSE]) + int(idx.size).to_bytes(4, "little")
                    + idx.astype("<i4").tobytes() + regs[idx].tobytes())
        return bytes([_DENSE]) + regs.tobytes()
    idx, rk = idx_or_regs, rank
    if idx.size * 5 + 4 < m:
        return (bytes([_SPARSE]) + int(idx.size).to_bytes(4, "little")
                + idx.astype("<i4").tobytes() + rk.tobytes())
    regs = np.zeros(m, dtype=np.uint8)
    regs[idx] = rk
    return bytes([_DENSE]) + regs.tobytes()


def _max_into(regs: np.ndarray, payload) -> None:
    """``regs = max(regs, registers of payload)`` in place, for a payload of
    either mode read where it lies. Corrupt payloads raise
    ``SketchConfigError`` rather than merging a wrong-size register array
    (which would silently skew every downstream estimate) or raising a bare
    ``IndexError``."""
    m = regs.size
    if not len(payload):
        raise SketchConfigError("empty hll payload")
    mode = payload[0]
    body = payload[1:]
    if mode == _DENSE:
        if len(body) != m:
            raise SketchConfigError(
                f"hll dense payload has {len(body)} registers, config says {m}")
        np.maximum(regs, np.frombuffer(body, dtype=np.uint8), out=regs)
        return
    if mode != _SPARSE:
        raise SketchConfigError(f"unknown hll payload mode {mode}")
    idx, rank = _decode_pairs(payload)
    if idx.size and (int(idx.min()) < 0 or int(idx.max()) >= m):
        raise SketchConfigError("hll sparse payload has out-of-range register index")
    regs[idx] = np.maximum(regs[idx], rank)


def decode_registers(payload, p: int) -> np.ndarray:
    """Payload (either mode) -> dense uint8 register array."""
    regs = np.zeros(1 << p, dtype=np.uint8)
    _max_into(regs, payload)
    return regs


def _decode_pairs(payload) -> tuple[np.ndarray, np.ndarray] | None:
    """Sparse payload -> (idx, rank); None for any other (``_max_into``
    reports empty and unknown-mode payloads)."""
    if not len(payload) or payload[0] != _SPARSE:
        return None
    body = payload[1:]
    n = int.from_bytes(body[:4], "little")
    if len(body) < 4 + 5 * n:
        raise SketchConfigError(
            f"hll sparse payload truncated: {n} pairs declared, "
            f"{len(body) - 4} body bytes")
    idx = np.frombuffer(body[4 : 4 + 4 * n], dtype="<i4").astype(np.int64)
    rank = np.frombuffer(body[4 + 4 * n : 4 + 5 * n], dtype=np.uint8)
    return idx, rank


class HLLBuilder:
    """Starts sparse (accumulated (idx, rank) pairs, consolidated lazily);
    densifies once it holds >= m/8 distinct registers. A grouped build over
    10^5 mostly-small groups therefore costs KBs per group, not 2^p bytes."""

    __slots__ = ("cfg", "regs", "_idx", "_rank", "_n_pairs")
    supports_unique = True  # idempotent in the value

    def __init__(self, cfg: HLLConfig):
        self.cfg = cfg
        self.regs = None
        self._idx: list = []
        self._rank: list = []
        self._n_pairs = 0

    def _densify(self) -> None:
        self.regs = empty(self.cfg)
        for ui, ur in zip(self._idx, self._rank):
            self.regs[ui] = np.maximum(self.regs[ui], ur)
        self._idx = self._rank = None

    def update(self, values: np.ndarray) -> None:
        for lo in range(0, values.shape[0], _CHUNK):
            ui, ur = _batch_pairs(values[lo : lo + _CHUNK], self.cfg)
            if self.regs is not None:
                self.regs[ui] = np.maximum(self.regs[ui], ur)
            else:
                self._idx.append(ui)
                self._rank.append(ur)
                self._n_pairs += ui.size
                if self._n_pairs >= self.cfg.m // 8:
                    self._densify()

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        self.update(uniq)

    def to_payload(self) -> bytes:
        if self.regs is not None:
            return _encode(self.regs, None, self.cfg.m)
        if self._n_pairs == 0:
            return _encode(np.empty(0, np.int64), np.empty(0, np.uint8), self.cfg.m)
        idx, rank = _consolidate_pairs(
            np.concatenate(self._idx), np.concatenate(self._rank)
        )
        return _encode(idx, rank, self.cfg.m)


def new_builder(cfg: HLLConfig) -> HLLBuilder:
    return HLLBuilder(cfg)


def estimate_registers(regs: np.ndarray, p: int) -> float:
    m = 1 << p
    inv = np.ldexp(1.0, -regs.astype(np.int64))
    raw = _alpha(m) * m * m / float(inv.sum())
    zeros = int((regs == 0).sum())
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)  # linear counting
    return raw


def build_blob(values: np.ndarray, cfg: HLLConfig) -> bytes:
    b = HLLBuilder(cfg)
    b.update(values)
    return blobmod.pack("hll", cfg, b.to_payload())


def _fold(cfg: HLLConfig, payloads: list) -> bytes:
    """Register max. All-sparse inputs union their pairs (the merged
    register count decides the output mode); otherwise every payload is
    max-ed in place into one dense register array. Both encodings are a
    pure function of the merged registers, so any merge order/shape yields
    the same bytes."""
    pairs = [_decode_pairs(p) for p in payloads]
    if all(s is not None for s in pairs):
        idx, rank = _consolidate_pairs(
            np.concatenate([s[0] for s in pairs]), np.concatenate([s[1] for s in pairs])
        )
        return _encode(idx, rank, cfg.m)
    regs = empty(cfg)
    for p in payloads:
        _max_into(regs, p)
    return _encode(regs, None, cfg.m)


def merge_many_blobs(blobs: list[bytes]) -> bytes:
    return blobmod.merge("hll", blobs, _fold)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    return merge_many_blobs([a, b])


def estimate_blob(blob: bytes) -> float:
    _, cfg, payload = blobmod.unpack(blob, "hll")
    return estimate_registers(decode_registers(payload, cfg.p), cfg.p)


def estimate_union(a: bytes, b: bytes) -> float:
    """|A ∪ B| — exact HLL semantics (register max), same error as a single
    sketch of the union."""
    return estimate_blob(merge_blobs(a, b))


def estimate_intersection(a: bytes, b: bytes) -> float:
    """|A ∩ B| via inclusion-exclusion. Published caveat (SURVEY.md §2.B):
    the variance scales with |A ∪ B|, not the intersection — relative error
    explodes for small overlaps. Flagged, not bounded; use MinHash Jaccard
    when a bounded estimate is needed."""
    return max(0.0, estimate_blob(a) + estimate_blob(b) - estimate_union(a, b))


def estimate_jaccard(a: bytes, b: bytes) -> float:
    """Jaccard via inclusion-exclusion — same unbounded-variance caveat."""
    u = estimate_union(a, b)
    if u <= 0:
        return 0.0
    return max(0.0, min(1.0, estimate_intersection(a, b) / u))
