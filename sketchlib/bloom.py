"""Blocked / sectorized / zoned Bloom filter — NumPy kernels.

Re-implements, Spark-first, the filter design of ``peterboncz/bloomfilter-bsd``
(Lang, Neumann, Kemper, Boncz, SIGMOD 2019 §3; Putze, Sanders, Singler, WEA
2007 §4). Reference locations (src/dtl/filter/blocked_bloomfilter/*.hpp) are
[path-level, unverified] — the checkout was empty, see SURVEY.md §0; parity is
against the published bit-layout and FPR formulas (sketchlib.fpr).

Layout (per key, all arithmetic vectorized over whole key arrays):

1. ``h0 = mulhash(key, C0)``; block index = top ``log2(n_blocks)`` bits
   (power-of-two addressing, reference ``block_addressing::POWER_OF_TWO``) or
   Lemire fastrange ``(h0 * n_blocks) >> 32`` (``block_addressing::MAGIC``,
   non-power-of-two memory budgets, no division).
2. Within the block of ``B`` bits split into ``s`` sectors: hash function
   ``i`` (``i in [0, k)``) sets one bit in sector ``i % s`` at offset
   ``top log2(B/s) bits of mulhash(key, C[1+i])`` — sectorization.
3. With ``z`` zones: the block is split into ``z`` zone regions; the k hashes
   are divided into z groups of k/z; group ``g`` lands in a *hash-chosen* zone
   (``mulhash(key, C[1+k+g])``), sector-constrained within that zone —
   cache-sectorization ([SIGMOD19] §3.3).

Properties the tests pin: zero false negatives (hard), empirical FPR within
binomial CI of the analytic Poisson-mixture value (fpr.py), OR-merge
commutativity/associativity to the byte.

The insert scatter uses a boolean scratch array + ``np.packbits`` (idempotent
fancy assignment — no slow ``np.bitwise_or.at``); probes are pure gathers.
Both paths chunk internally so per-call temporaries stay cache/memory friendly
regardless of Arrow batch size.
"""

from __future__ import annotations

import numpy as np

from sketchlib import blob as blobmod
from sketchlib.config import BloomConfig, SketchConfigError
from sketchlib.hashing import mul_hash32

_CHUNK = 1 << 21  # keys per internal chunk


def _log2(x: int) -> int:
    return int(x).bit_length() - 1


def _block_base32(h0: np.ndarray, cfg: BloomConfig) -> np.ndarray:
    """First bit of each key's block, uint32. Power-of-two addressing = top
    hash bits (A6); magic addressing = Lemire fastrange ``(h*n_blocks) >> 32``
    (A7, reference ``block_addressing::MAGIC``) — maps the 32-bit hash onto
    any block count without division."""
    if cfg.addressing == "magic":
        blk = ((h0.astype(np.uint64) * np.uint64(cfg.n_blocks)) >> np.uint64(32)).astype(np.uint32)
    else:
        lb = _log2(cfg.n_blocks)
        blk = h0 >> np.uint32(32 - lb) if lb else np.zeros(h0.shape[0], np.uint32)
    return blk * np.uint32(cfg.block_bits)


def _block_base64(h0: np.ndarray, cfg: BloomConfig) -> np.ndarray:
    """Same as ``_block_base32`` but uint64 (filters >= 2**31 bits)."""
    if cfg.addressing == "magic":
        blk = (h0.astype(np.uint64) * np.uint64(cfg.n_blocks)) >> np.uint64(32)
    else:
        lb = _log2(cfg.n_blocks)
        blk = (h0 >> np.uint32(32 - lb)).astype(np.uint64) if lb else np.zeros(h0.shape[0], np.uint64)
    return blk * np.uint64(cfg.block_bits)


def _hash32(keys: np.ndarray, idx: int, cfg: BloomConfig) -> np.ndarray:
    """Per-index 32-bit hash in the configured family. ``"mul"`` is the
    reference's multiplicative family (A8); ``"mix"`` takes the top 32 bits
    of the splitmix64 finalizer (A9-class, full avalanche) — the optional
    stronger family for structured key sets (kept off the default path to
    preserve reference FPR parity)."""
    if cfg.hash_family == "mul":
        return mul_hash32(keys, idx, cfg.hash_seed)
    from sketchlib.hashing import splitmix64

    return (splitmix64(keys, seed=cfg.hash_seed * 131 + idx)
            >> np.uint64(32)).astype(np.uint32)


def _bit_indices(keys: np.ndarray, cfg: BloomConfig) -> np.ndarray:
    """Global bit positions, shape (k, n), for a chunk of keys.

    Fast path: all arithmetic in uint32 when the filter is < 2**31 bits
    (always, at sane configs — 256 MB filter) to halve memory traffic versus
    uint64 temporaries; the wide path only exists for completeness."""
    if cfg.m_bits <= (1 << 31):
        return _bit_indices32(keys, cfg)
    return _bit_indices64(keys, cfg)


def _bit_indices32(keys: np.ndarray, cfg: BloomConfig) -> np.ndarray:
    """(k, n) bit-index matrix — materialized from ``_bit_rows32`` so the
    block/sector/zone layout has exactly ONE implementation (a hand-synced
    twin here used to risk silent insert/contains divergence)."""
    out = np.empty((cfg.k, keys.shape[0]), dtype=np.uint32)
    for i, row in enumerate(_bit_rows32(keys, cfg)):
        out[i] = row
    return out


def _mul_const(idx: int, seed: int) -> np.uint32:
    from sketchlib.hashing import MUL_CONSTANTS_32

    return MUL_CONSTANTS_32[(idx + seed) % len(MUL_CONSTANTS_32)]


def _bit_rows32(keys: np.ndarray, cfg: BloomConfig):
    """Yield the k per-hash bit-index rows one at a time (two reused
    buffers — no (k, n) matrix). Bit-identical to ``_bit_indices32`` rows."""
    n = keys.shape[0]
    B = cfg.block_bits
    seed = cfg.hash_seed
    k, s, z = cfg.k, cfg.sectors, cfg.zones
    sector_bits = cfg.sector_bits
    lb_sector = _log2(sector_bits)
    keys32 = keys.astype(np.uint32, copy=False)
    mix = cfg.hash_family != "mul"

    h0 = _hash32(keys, 0, cfg)
    block_base = _block_base32(h0, cfg)
    row = np.empty(n, dtype=np.uint32)

    if z == 1:
        for i in range(k):
            if mix:
                row[:] = _hash32(keys, 1 + i, cfg)
            else:
                np.multiply(keys32, _mul_const(1 + i, seed), out=row)
            np.right_shift(row, np.uint32(32 - lb_sector), out=row)
            row += block_base
            if i % s:
                row += np.uint32((i % s) * sector_bits)
            yield row
        return

    zone_bits = B // z
    spz, kpz = s // z, k // z
    lb_z = _log2(z)
    for g in range(z):
        hz = _hash32(keys, 1 + k + g, cfg)
        zone_base = block_base + (hz >> np.uint32(32 - lb_z)) * np.uint32(zone_bits) \
            if lb_z else block_base
        for j in range(kpz):
            i = g * kpz + j
            if mix:
                row[:] = _hash32(keys, 1 + i, cfg)
            else:
                np.multiply(keys32, _mul_const(1 + i, seed), out=row)
            np.right_shift(row, np.uint32(32 - lb_sector), out=row)
            row += zone_base
            if j % spz:
                row += np.uint32((j % spz) * sector_bits)
            yield row


def _bit_indices64(keys: np.ndarray, cfg: BloomConfig) -> np.ndarray:
    n = keys.shape[0]
    B = cfg.block_bits
    seed = cfg.hash_seed

    h0 = _hash32(keys, 0, cfg)
    block_base = _block_base64(h0, cfg)

    z = cfg.zones
    k = cfg.k
    s = cfg.sectors
    sector_bits = cfg.sector_bits  # == B // s
    lb_sector = _log2(sector_bits)

    out = np.empty((k, n), dtype=np.uint64)

    if z == 1:
        for i in range(k):
            hi = _hash32(keys, 1 + i, cfg)
            off = (hi >> np.uint32(32 - lb_sector)).astype(np.uint64)
            sec = i % s
            out[i] = block_base + np.uint64(sec * sector_bits) + off
        return out

    # zoned: z zone regions of B/z bits, each with s/z sectors
    zone_bits = B // z
    spz = s // z  # sectors per zone
    kpz = k // z  # hashes per zone group
    lb_z = _log2(z)
    for g in range(z):
        hz = _hash32(keys, 1 + k + g, cfg)
        zone = (hz >> np.uint32(32 - lb_z)).astype(np.uint64) if lb_z else 0
        zone_base = block_base + zone * np.uint64(zone_bits)
        for j in range(kpz):
            i = g * kpz + j
            hi = _hash32(keys, 1 + i, cfg)
            off = (hi >> np.uint32(32 - lb_sector)).astype(np.uint64)
            sec = j % spz
            out[i] = zone_base + np.uint64(sec * sector_bits) + off
    return out


def _as_keys(tokens: np.ndarray) -> np.ndarray:
    """Validate and view token ids as uint32 keys (corpus contract:
    0 <= id < 2**32). Out-of-range ids raise rather than silently alias
    their low 32 bits (token 2**32 would otherwise probe as token 0 —
    inflated FPR with no error)."""
    if tokens.dtype.kind == "i":
        if tokens.size and int(tokens.min()) < 0:
            raise SketchConfigError("negative token ids are not allowed")
    if tokens.dtype.itemsize > 4 and tokens.size and int(tokens.max()) > 0xFFFFFFFF:
        raise SketchConfigError(
            "token ids must fit in 32 bits (got a value > 2**32-1); "
            "pre-hash 64-bit keys to 32 bits explicitly if aliasing is intended")
    return tokens.astype(np.uint32, copy=False)


def empty(cfg: BloomConfig) -> np.ndarray:
    return np.zeros(cfg.n_bytes, dtype=np.uint8)


class BloomBuilder:
    """Streaming build state: one boolean scratch array per partition build,
    packed to the byte payload exactly once at the end — per-batch cost is
    hash + idempotent fancy assignment only. (The naive per-batch
    ``insert``+``packbits`` pays O(m) per batch, which dominates at
    m = 2**27; this is the reference's 'thread-private filter' pattern, A18.)
    """

    __slots__ = ("cfg", "_bool", "_bytes")

    def __init__(self, cfg: BloomConfig):
        self.cfg = cfg
        if cfg.m_bits <= (1 << 28):
            self._bool = np.zeros(cfg.m_bits, dtype=bool)
            self._bytes = None
        else:  # huge filters: byte array + sorted reduceat per batch
            self._bool = None
            self._bytes = empty(cfg)

    supports_unique = True  # idempotent: duplicates contribute nothing

    def update(self, tokens: np.ndarray) -> None:
        keys = _as_keys(tokens)
        if self._bool is not None:
            for lo in range(0, keys.shape[0], _CHUNK):
                for row in _bit_rows32(keys[lo : lo + _CHUNK], self.cfg):
                    self._bool[row] = True
        else:
            insert(self._bytes, keys, self.cfg)

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        self.update(uniq)

    def to_payload(self) -> bytes:
        if self._bool is not None:
            return np.packbits(self._bool, bitorder="little").tobytes()
        return self._bytes.tobytes()


def new_builder(cfg: BloomConfig) -> BloomBuilder:
    return BloomBuilder(cfg)


def insert(bits: np.ndarray, tokens: np.ndarray, cfg: BloomConfig) -> None:
    """Set bits for ``tokens`` in-place in the uint8 filter array ``bits``.

    Reference parity: ``batch_insert`` (A1/A2 in SURVEY.md §2.A).
    """
    keys = _as_keys(tokens)
    m = cfg.m_bits
    for lo in range(0, keys.shape[0], _CHUNK):
        chunk = keys[lo : lo + _CHUNK]
        idx = _bit_indices(chunk, cfg).ravel()
        if m <= (1 << 28):
            scratch = np.zeros(m, dtype=bool)
            scratch[idx] = True
            np.bitwise_or(bits, np.packbits(scratch, bitorder="little"), out=bits)
        else:
            # huge filters: sort byte indices, OR-reduce per unique byte
            byte_idx = (idx >> np.uint64(3)).astype(np.int64)
            mask = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)).astype(np.uint8)
            order = np.argsort(byte_idx, kind="stable")
            bi = byte_idx[order]
            mk = mask[order]
            starts = np.flatnonzero(np.r_[True, bi[1:] != bi[:-1]])
            merged = np.bitwise_or.reduceat(mk, starts)
            bits[bi[starts]] |= merged


def build(tokens: np.ndarray, cfg: BloomConfig) -> bytes:
    """Build a filter over ``tokens`` and return the blob. Delegates to
    ``BloomBuilder`` (one bool scratch packed once) rather than per-chunk
    ``insert``+``packbits``, which pays O(m) per 2M-key chunk; output is
    byte-identical."""
    b = BloomBuilder(cfg)
    b.update(tokens)
    return blobmod.pack("bloom", cfg, b.to_payload())


def contains(tokens: np.ndarray, payload: np.ndarray, cfg: BloomConfig) -> np.ndarray:
    """Membership test; returns bool array. Reference parity: ``batch_contains``
    (A3/A4) — the selection vector becomes a boolean column Spark-side.

    Fused: one hash row is computed and gathered at a time (no (k, n) index
    matrix), cutting temporary memory traffic k-fold; short-circuit semantics
    are preserved bit-exactly by AND-accumulation.
    """
    keys = _as_keys(tokens)
    n = keys.shape[0]
    out = np.empty(n, dtype=bool)
    for lo in range(0, n, _CHUNK):
        chunk = keys[lo : lo + _CHUNK]
        hit = None
        if cfg.m_bits <= (1 << 31):
            rows = _bit_rows32(chunk, cfg)
        else:
            rows = iter(_bit_indices64(chunk, cfg))
        for row in rows:
            bits = (payload[(row >> np.uint32(3)).astype(np.int64)]
                    >> (row & np.uint32(7)).astype(np.uint8)) & np.uint8(1)
            hit = bits if hit is None else (hit & bits)
        out[lo : lo + chunk.shape[0]] = hit.astype(bool)
    return out


def _fold(cfg: BloomConfig, payloads: list) -> np.ndarray:
    """OR-merge (A5), accumulated in place into one buffer: the commutative
    monoid that makes Spark partial/final aggregation exact."""
    acc = np.frombuffer(payloads[0], dtype=np.uint8).copy()
    for p in payloads[1:]:
        np.bitwise_or(acc, np.frombuffer(p, dtype=np.uint8), out=acc)
    return acc


# --- blob-level conveniences -------------------------------------------------

def build_blob(tokens: np.ndarray, cfg: BloomConfig) -> bytes:
    return build(tokens, cfg)


def merge_many_blobs(blobs: list[bytes]) -> bytes:
    return blobmod.merge("bloom", blobs, _fold)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    return merge_many_blobs([a, b])


def contains_blob(tokens: np.ndarray, blob: bytes) -> np.ndarray:
    _, cfg, payload = blobmod.unpack(blob, "bloom")
    return contains(tokens, np.frombuffer(payload, dtype=np.uint8), cfg)

