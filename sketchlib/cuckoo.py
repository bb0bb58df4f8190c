"""Cuckoo filter — partial-key cuckoo hashing (Fan, Andersen, Kaminsky,
Mitzenmacher, CoNEXT 2014), the reference's FPR-efficient alternative to
blocked Bloom (bloomfilter-bsd ``src/dtl/filter/cuckoofilter/`` [path-level,
unverified — SURVEY.md §0]; [SIGMOD19] §4 benchmarks it as the
low-FPR/low-throughput end of the skyline).

Supports what Bloom cannot: **delete**. The cost: inserts can fail at high
load (capacity is probabilistic), and the structure is not a simple
commutative monoid — ``merge`` re-inserts the other filter's tags and raises
if capacity is exceeded, mirroring the reference's semantics. For the
distributed path this means cuckoo partials must be sized for the *merged*
key count (the library warns via ``SketchConfigError``), which is why the
north rule keys on Bloom for the 10^12-scale build and cuckoo stays a
single-blob/probe-side structure.

Layout: ``n_buckets`` (power of two) buckets x ``bucket_size`` tags of
``bits_per_tag`` bits, stored as a uint16 array (tag 0 = empty; tags are
forced non-zero). Alternate bucket: ``b2 = b1 XOR hash(tag)`` (partial-key
displacement).

Batch insert is wave-vectorized: each wave tries bucket-1 then bucket-2 free
slots for all pending keys at once (NumPy); only keys needing displacement
fall back to the bounded eviction loop.
"""

from __future__ import annotations

import dataclasses
import json

import numpy as np

from sketchlib import blob as blobmod
from sketchlib.config import SketchConfigError, _Cfg
from sketchlib.hashing import splitmix64

_EMPTY = np.uint16(0)


@dataclasses.dataclass(frozen=True)
class CuckooConfig(_Cfg):
    n_buckets: int = 1 << 16   # power of two
    bucket_size: int = 4
    bits_per_tag: int = 12     # <= 16
    hash_seed: int = 0
    max_kicks: int = 500

    def __post_init__(self) -> None:
        if self.n_buckets & (self.n_buckets - 1):
            raise SketchConfigError("n_buckets must be a power of two")
        if not (1 <= self.bucket_size <= 8):
            raise SketchConfigError("bucket_size must be in [1, 8]")
        if not (4 <= self.bits_per_tag <= 16):
            raise SketchConfigError("bits_per_tag must be in [4, 16]")

    @property
    def capacity(self) -> int:
        return self.n_buckets * self.bucket_size


# registered for blob round-trips
from sketchlib import config as _cfgmod  # noqa: E402

_cfgmod._CFG_CLASSES["CuckooConfig"] = CuckooConfig


class CuckooFilter:
    __slots__ = ("cfg", "table", "n")

    def __init__(self, cfg: CuckooConfig):
        self.cfg = cfg
        self.table = np.zeros((cfg.n_buckets, cfg.bucket_size), dtype=np.uint16)
        self.n = 0

    # -- hashing -----------------------------------------------------------------

    def _tag_and_bucket(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = splitmix64(keys.astype(np.uint64, copy=False), seed=self.cfg.hash_seed)
        mask = np.uint64(self.cfg.n_buckets - 1)
        b1 = (h & mask).astype(np.int64)
        tag_bits = np.uint64(self.cfg.bits_per_tag)
        tag = ((h >> np.uint64(32)) & ((np.uint64(1) << tag_bits) - np.uint64(1))).astype(np.uint16)
        tag = np.where(tag == 0, np.uint16(1), tag)  # 0 marks empty slots
        return tag, b1

    def _alt_bucket(self, bucket: np.ndarray, tag: np.ndarray) -> np.ndarray:
        th = splitmix64(tag.astype(np.uint64), seed=self.cfg.hash_seed ^ 0xA5A5)
        return (bucket ^ (th & np.uint64(self.cfg.n_buckets - 1)).astype(np.int64)) & (
            self.cfg.n_buckets - 1
        )

    # -- operations ----------------------------------------------------------------

    def _try_place_wave(self, tags: np.ndarray, buckets: np.ndarray) -> np.ndarray:
        """Vectorized: place each (tag, bucket) into a free slot if any;
        returns boolean placed-mask. Duplicate buckets within a wave are
        serialized via first-occurrence masking."""
        placed = np.zeros(tags.shape[0], dtype=bool)
        for _ in range(self.cfg.bucket_size):
            free_slot = (self.table[buckets] == _EMPTY).argmax(axis=1)
            has_free = self.table[buckets, free_slot] == _EMPTY
            cand = np.flatnonzero(~placed & has_free)
            if cand.size == 0:
                break
            # keep only the first claimant of each bucket this round
            _, first_idx = np.unique(buckets[cand], return_index=True)
            winners = cand[first_idx]
            self.table[buckets[winners], free_slot[winners]] = tags[winners]
            placed[winners] = True
        return placed

    def insert(self, keys: np.ndarray) -> None:
        tags, b1 = self._tag_and_bucket(keys)
        self._insert_tags(tags, b1)
        self.n += int(keys.shape[0])

    def _insert_tags(self, tags: np.ndarray, b1: np.ndarray) -> None:
        placed = self._try_place_wave(tags, b1)
        if not placed.all():
            rest = ~placed
            b2 = self._alt_bucket(b1[rest], tags[rest])
            placed2 = self._try_place_wave(tags[rest], b2)
            # bounded scalar eviction loop for the stragglers
            pend_tags = tags[rest][~placed2]
            pend_buckets = b2[~placed2]
            rng = np.random.default_rng(self.cfg.hash_seed + 1)
            for t, b in zip(pend_tags.tolist(), pend_buckets.tolist()):
                cur_tag, cur_b = np.uint16(t), int(b)
                ok = False
                for _ in range(self.cfg.max_kicks):
                    row = self.table[cur_b]
                    free = np.flatnonzero(row == _EMPTY)
                    if free.size:
                        self.table[cur_b, free[0]] = cur_tag
                        ok = True
                        break
                    slot = int(rng.integers(0, self.cfg.bucket_size))
                    cur_tag, self.table[cur_b, slot] = self.table[cur_b, slot], cur_tag
                    cur_b = int(
                        self._alt_bucket(np.array([cur_b]), np.array([cur_tag], np.uint16))[0]
                    )
                if not ok:
                    # report the table's ACTUAL occupancy: self.n is only
                    # bumped after this call returns, so it excludes every
                    # tag placed in the current batch/merge and would make
                    # expected capacity exhaustion look like a pathology
                    occupied = int((self.table != _EMPTY).sum())
                    raise SketchConfigError(
                        f"cuckoo filter full (occupied={occupied}, "
                        f"capacity={self.cfg.capacity})"
                    )

    def contains(self, keys: np.ndarray) -> np.ndarray:
        tags, b1 = self._tag_and_bucket(keys)
        b2 = self._alt_bucket(b1, tags)
        t = tags[:, None]
        return ((self.table[b1] == t) | (self.table[b2] == t)).any(axis=1)

    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove one copy of each key's tag; returns per-key success. Scalar
        loop (deletes are rare, administrative operations)."""
        tags, b1 = self._tag_and_bucket(keys)
        b2 = self._alt_bucket(b1, tags)
        out = np.zeros(keys.shape[0], dtype=bool)
        for i in range(keys.shape[0]):
            for b in (int(b1[i]), int(b2[i])):
                slots = np.flatnonzero(self.table[b] == tags[i])
                if slots.size:
                    self.table[b, slots[0]] = _EMPTY
                    out[i] = True
                    self.n -= 1
                    break
        return out

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Set-union merge: re-insert the other filter's tags, SKIPPING any
        tag already present in its bucket pair (the alternate-bucket relation
        ``b2 = b1 ^ hash(tag)`` is an involution, so the pair is recoverable
        from wherever a tag is stored). The skip is what makes a distributed
        build feasible: the same key inserted on P partitions contributes ONE
        tag after the merge tree, not P — without it, merged load would be
        sum-of-per-partition-distinct and overflow any fixed capacity.

        Consequences: membership semantics are exactly preserved (a tag is in
        the pair iff the key set of either side contains it); multiplicity is
        NOT — ``delete`` after a set-union merge removes the single stored
        copy. Raises if true combined load still exceeds capacity. NOT
        order-insensitive at the byte level — membership is what is
        preserved (same contract as the reference's benchmark OR-merge)."""
        self.cfg.require_same(other.cfg)
        out = CuckooFilter(self.cfg)
        out.table = self.table.copy()
        out.n = self.n
        occupied = np.flatnonzero(other.table.ravel() != _EMPTY)
        tags = other.table.ravel()[occupied]
        buckets = (occupied // self.cfg.bucket_size).astype(np.int64)
        if tags.size:
            # dedupe within the incoming set on the canonical bucket pair
            alt = self._alt_bucket(buckets, tags)
            canon = np.minimum(buckets, alt)
            packed = (canon.astype(np.uint64) << np.uint64(16)) | tags.astype(np.uint64)
            _, first = np.unique(packed, return_index=True)
            tags, buckets, alt = tags[first], buckets[first], alt[first]
            # skip tags already present in their bucket pair
            t = tags[:, None]
            present = ((out.table[buckets] == t) | (out.table[alt] == t)).any(axis=1)
            tags, buckets = tags[~present], buckets[~present]
        try:
            out._insert_tags(tags, buckets)
        except SketchConfigError as e:
            raise SketchConfigError(f"cuckoo merge exceeded capacity: {e}") from e
        out.n += int(tags.size)
        return out

    # -- blob ------------------------------------------------------------------------

    def to_payload(self) -> bytes:
        head = json.dumps({"n": self.n}).encode()
        return len(head).to_bytes(4, "little") + head + self.table.tobytes()

    def to_blob(self) -> bytes:
        return blobmod.pack("cuckoo", self.cfg, self.to_payload())

    @classmethod
    def from_payload(cls, cfg: CuckooConfig, payload) -> "CuckooFilter":
        hlen = int.from_bytes(payload[:4], "little")
        meta = json.loads(bytes(payload[4 : 4 + hlen]))
        out = cls(cfg)
        out.table = (
            np.frombuffer(payload[4 + hlen :], dtype=np.uint16)
            .reshape(cfg.n_buckets, cfg.bucket_size).copy()
        )
        out.n = meta["n"]
        return out

    @classmethod
    def from_blob(cls, blob: bytes) -> "CuckooFilter":
        _, cfg, payload = blobmod.unpack(blob, "cuckoo")
        return cls.from_payload(cfg, payload)


def analytic_fpr(cfg: CuckooConfig) -> float:
    """~ 2 * bucket_size / 2**bits_per_tag ([FAN14] §3.1, full-ish load)."""
    return 2.0 * cfg.bucket_size / (1 << cfg.bits_per_tag)


# ---------------------------------------------------------------------------
# distributed build: sketchlib.agg module interface + driver-level wrapper
# ---------------------------------------------------------------------------

class CuckooBuilder:
    """Per-partition streaming build state for ``agg.build_partials``.

    Set semantics: a batch is deduplicated and keys whose membership already
    reads true are skipped — ``contains`` is a deterministic function of the
    table, so a key that reads present NOW reads present forever (tags are
    never removed on the build path); skipping preserves zero false negatives
    while keeping load at ~distinct-keys instead of ~total-rows."""

    __slots__ = ("cfg", "f")
    supports_unique = True

    def __init__(self, cfg: CuckooConfig):
        self.cfg = cfg
        self.f = CuckooFilter(cfg)

    def _insert_new(self, uniq: np.ndarray) -> None:
        if uniq.size == 0:
            return
        fresh = uniq[~self.f.contains(uniq)]
        if fresh.size:
            self.f.insert(fresh)

    def update(self, values: np.ndarray) -> None:
        self._insert_new(np.unique(values))

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        self._insert_new(uniq)

    def to_payload(self) -> bytes:
        return self.f.to_payload()


def new_builder(cfg: CuckooConfig) -> CuckooBuilder:
    return CuckooBuilder(cfg)


def _fold(cfg: CuckooConfig, payloads: list) -> bytes:
    """Set-union of the filters in input order (``CuckooFilter.merge``). The
    union's bytes depend on that order, its membership does not."""
    out = CuckooFilter.from_payload(cfg, payloads[0])
    for p in payloads[1:]:
        out = out.merge(CuckooFilter.from_payload(cfg, p))
    return out.to_payload()


def merge_many_blobs(blobs: list[bytes]) -> bytes:
    return blobmod.merge("cuckoo", blobs, _fold)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    return merge_many_blobs([a, b])


def contains_blob(keys: np.ndarray, blob: bytes) -> np.ndarray:
    return CuckooFilter.from_blob(blob).contains(keys.astype(np.uint64, copy=False))


def suggest_cuckoo_config(n_keys: int, bits_per_tag: int = 12,
                          bucket_size: int = 4, headroom: float = 1.25) -> CuckooConfig:
    """Size the table so ``n_keys`` distinct keys land under ~0.95 load with
    ``headroom`` slack ([FAN14] §5: b=4 sustains ~95% occupancy)."""
    import math

    need = max(1, int(math.ceil(n_keys * headroom / (bucket_size * 0.95))))
    return CuckooConfig(
        n_buckets=1 << max(4, int(math.ceil(math.log2(need)))),
        bucket_size=bucket_size, bits_per_tag=bits_per_tag,
    )


def build_distributed(df, col: str, n_expected: int, bits_per_tag: int = 12,
                      bucket_size: int = 4, max_retries: int = 2) -> bytes:
    """Distributed cuckoo build: per-partition partials at the FINAL table
    geometry (same config everywhere — the set-union merge needs it), tree-
    merged by ``sketchlib.agg``. Capacity overflow during a merge is
    probabilistic (eviction cycles near full load), so on failure the build
    retries with a doubled table — the pre-sizing + fallback path the
    reference leaves to its caller.

    Returns the final blob (KBs–MBs; probe via ``contains_blob`` /
    ``probe.with_cuckoo_membership``)."""
    from sketchlib import agg  # lazy: agg imports this module

    last_err: Exception | None = None
    cfg = suggest_cuckoo_config(n_expected, bits_per_tag, bucket_size)
    for attempt in range(max_retries + 1):
        try:
            final = agg.build_sketches(
                df, [agg.SketchSpec("cuckoo", cfg, col)]
            )
            return agg.collect_blobs(final)[("cuckoo", "")]
        except Exception as e:  # Py4J wraps executor-side SketchConfigError
            if "exceeded capacity" not in str(e) and "filter full" not in str(e):
                raise
            last_err = e
            cfg = CuckooConfig(
                n_buckets=cfg.n_buckets * 2, bucket_size=cfg.bucket_size,
                bits_per_tag=cfg.bits_per_tag, hash_seed=cfg.hash_seed,
                max_kicks=cfg.max_kicks,
            )
    raise SketchConfigError(
        f"cuckoo distributed build failed after {max_retries + 1} sizes: {last_err}"
    )
