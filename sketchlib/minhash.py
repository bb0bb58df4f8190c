"""MinHash signatures — NumPy kernels.

Broder 1997. Not in the reference; included because a slot-wise-min signature
is a mergeable sketch in exactly the same monoid family as Bloom/HLL/CMS
(merge = elementwise min → byte-identical under merge permutation), and it is
the primitive behind MinHash-LSH near-duplicate detection (sketchlib.textops).

Permutation j of value x: ``splitmix64(x) * C_j`` with fixed odd 64-bit
constants — one multiply per element per permutation after a single
finalizer pass, so a 128-perm signature over an Arrow batch stays vectorized.

Estimate: Jaccard(A, B) ~= mean(sig_A == sig_B), SE = 1/sqrt(num_perm).

Payload: ``num_perm`` uint64 slot minima.
"""

from __future__ import annotations

import numpy as np

from sketchlib import blob as blobmod
from sketchlib.config import MinHashConfig
from sketchlib.hashing import splitmix64

_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _perm_constants(num_perm: int, seed: int) -> np.ndarray:
    base = splitmix64(np.arange(num_perm, dtype=np.uint64), seed=seed ^ 0x5EED)
    return base | np.uint64(1)  # odd multipliers


def empty(cfg: MinHashConfig) -> np.ndarray:
    return np.full(cfg.num_perm, _U64MAX, dtype=np.uint64)


def insert(sig: np.ndarray, values: np.ndarray, cfg: MinHashConfig) -> None:
    if values.size == 0:
        return
    h = splitmix64(values, seed=cfg.hash_seed)
    consts = _perm_constants(cfg.num_perm, cfg.hash_seed)
    with np.errstate(over="ignore"):
        for j in range(cfg.num_perm):
            sig[j] = min(sig[j], (h * consts[j]).min())


def signatures_segmented_oph(
    flat_values: np.ndarray, starts: np.ndarray, cfg: MinHashConfig
) -> np.ndarray:
    """One-permutation-hashing signatures (Li, Owen, Zhang 2012) with
    optimal densification (Shrivastava 2017): ONE hash pass assigns each item
    to bucket = top bits, slot value = low bits; per-(doc, bucket) min; empty
    buckets borrow from a hash-rotated neighbor. ~num_perm x fewer passes
    than the k-permutation scheme — the scale path for per-doc signatures.

    Same estimator contract (slot agreement ~ Jaccard, SE ~ 1/sqrt(num_perm));
    NOT slot-compatible with k-perm signatures — compare like with like.
    """
    n_docs = starts.size
    P = cfg.num_perm
    if n_docs * P >= (1 << 32):
        # the packed (doc*P + bucket) group key below lives in the top 32
        # bits; wrapping would corrupt signatures silently. Unreachable at
        # real Arrow batch sizes — fail loud instead of wrong.
        raise ValueError(
            f"OPH batch too large: n_docs*num_perm = {n_docs * P} >= 2**32; chunk the batch"
        )
    out = np.full((n_docs, P), _U64MAX, dtype=np.uint64)
    if flat_values.size == 0 or n_docs == 0:
        return out
    h = splitmix64(flat_values, seed=cfg.hash_seed)
    lbP = P.bit_length() - 1
    if (1 << lbP) != P:
        raise ValueError("OPH requires num_perm to be a power of two")
    bucket = (h >> np.uint64(64 - lbP)).astype(np.int64)
    slot_val = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)  # 32-bit slots
    seg_len = np.diff(np.r_[starts, flat_values.size])
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), seg_len)
    # per-(doc, bucket) min via ONE sort of a packed 64-bit key:
    # (doc*P + bucket) << 32 | slot32 — first occurrence per group is the min
    combined = doc_of * P + bucket
    packed = np.sort((combined.astype(np.uint64) << np.uint64(32)) | slot_val)
    ck = (packed >> np.uint64(32)).astype(np.int64)
    first = np.flatnonzero(np.r_[True, ck[1:] != ck[:-1]])
    out.ravel()[ck[first]] = packed[first] & np.uint64(0xFFFFFFFF)
    # optimal densification: empty bucket j of doc d copies from bucket
    # (j + t*rot_j) mod P, walking t until a filled bucket is found
    empty_d, empty_j = np.nonzero(out == _U64MAX)
    if empty_d.size:
        # stride must be coprime to the power-of-two P so every densification
        # walk visits all buckets (an even stride can close a cycle over a
        # strict subset, stranding empties at the U64MAX sentinel, which the
        # slot-agreement estimator would count as spurious matches) — force odd
        rot = (splitmix64(np.arange(P, dtype=np.uint64), seed=cfg.hash_seed ^ 0xD1CE)
               .astype(np.int64) % P) | 1
        pending = np.arange(empty_d.size)
        probe = empty_j.copy()
        for _ in range(P):
            probe[pending] = (probe[pending] + rot[empty_j[pending]]) % P
            vals = out[empty_d[pending], probe[pending]]
            filled = vals != _U64MAX
            idx = pending[filled]
            out[empty_d[idx], empty_j[idx]] = vals[filled]
            pending = pending[~filled]
            if pending.size == 0:
                break
    return out


class MinHashBuilder:
    __slots__ = ("cfg", "sig")
    supports_unique = True  # set semantics

    def __init__(self, cfg: MinHashConfig):
        self.cfg = cfg
        self.sig = empty(cfg)

    def update(self, values: np.ndarray) -> None:
        insert(self.sig, values, self.cfg)

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        insert(self.sig, uniq, self.cfg)

    def to_payload(self) -> bytes:
        return self.sig.tobytes()


def new_builder(cfg: MinHashConfig) -> MinHashBuilder:
    return MinHashBuilder(cfg)


def jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float(np.mean(sig_a == sig_b))


def build_blob(values: np.ndarray, cfg: MinHashConfig) -> bytes:
    sig = empty(cfg)
    insert(sig, values, cfg)
    return blobmod.pack("minhash", cfg, sig.tobytes())


def _fold(cfg: MinHashConfig, payloads: list) -> np.ndarray:
    """Slot-wise min, accumulated in place into one signature."""
    acc = np.frombuffer(payloads[0], dtype=np.uint64).copy()
    for p in payloads[1:]:
        np.minimum(acc, np.frombuffer(p, dtype=np.uint64), out=acc)
    return acc


def merge_many_blobs(blobs: list[bytes]) -> bytes:
    return blobmod.merge("minhash", blobs, _fold)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    return merge_many_blobs([a, b])


def jaccard_blobs(a: bytes, b: bytes) -> float:
    _, ca, pa = blobmod.unpack(a, "minhash")
    _, cb, pb = blobmod.unpack(b, "minhash")
    ca.require_same(cb)
    return jaccard(np.frombuffer(pa, dtype=np.uint64), np.frombuffer(pb, dtype=np.uint64))
