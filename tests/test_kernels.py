"""T1 — kernel unit tests: each NumPy kernel vs a trivially-correct scalar
reference implementation (mirrors the reference's scalar-vs-SIMD consistency
tests, SURVEY.md §5.1)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sketchlib import blob as blobmod, bloom, cms, hll, kll, minhash, tdigest
from sketchlib.config import (
    BloomConfig, CMSConfig, HLLConfig, KLLConfig, MinHashConfig, SketchConfigError,
    TDigestConfig,
)
from sketchlib.hashing import MUL_CONSTANTS_32, bit_length64, popcount64, splitmix64

RNG = np.random.default_rng(42)


# ---------- hashing primitives ------------------------------------------------

def test_popcount_exact():
    xs = RNG.integers(0, 2**63, 10_000, dtype=np.uint64)
    xs = np.concatenate([xs, np.array([0, 1, 2**63, 2**64 - 1], dtype=np.uint64)])
    got = popcount64(xs)
    want = np.array([bin(int(x)).count("1") for x in xs])
    assert np.array_equal(got, want)


def test_bit_length_exact():
    xs = RNG.integers(0, 2**63, 10_000, dtype=np.uint64)
    xs = np.concatenate([xs, np.array([0, 1, 3, 2**63, 2**64 - 1], dtype=np.uint64)])
    got = bit_length64(xs)
    want = np.array([int(x).bit_length() for x in xs])
    assert np.array_equal(got, want)


def test_splitmix_deterministic_and_mixed():
    xs = np.arange(100_000, dtype=np.uint64)
    h1, h2 = splitmix64(xs, 1), splitmix64(xs, 1)
    assert np.array_equal(h1, h2)
    assert not np.array_equal(splitmix64(xs, 2), h1)
    # dense inputs must produce well-spread top bits
    top = (h1 >> np.uint64(56)).astype(np.int64)
    counts = np.bincount(top, minlength=256)
    assert counts.min() > 0.7 * len(xs) / 256


# ---------- bloom vs scalar reference ------------------------------------------

def _scalar_bit_indices(key: int, cfg: BloomConfig) -> list[int]:
    """Independent pure-python re-derivation of the documented layout."""
    def mul32(x, i):
        return (x * int(MUL_CONSTANTS_32[(i + cfg.hash_seed) % len(MUL_CONSTANTS_32)])) % 2**32

    B = cfg.block_bits
    if cfg.addressing == "magic":
        block = (mul32(key, 0) * cfg.n_blocks) >> 32  # Lemire fastrange
    else:
        lb_blocks = cfg.n_blocks.bit_length() - 1
        block = mul32(key, 0) >> (32 - lb_blocks) if lb_blocks else 0
    base = block * B
    lb_sector = cfg.sector_bits.bit_length() - 1
    out = []
    if cfg.zones == 1:
        for i in range(cfg.k):
            off = mul32(key, 1 + i) >> (32 - lb_sector)
            out.append(base + (i % cfg.sectors) * cfg.sector_bits + off)
    else:
        z = cfg.zones
        kpz, spz = cfg.k // z, cfg.sectors // z
        zone_bits = B // z
        lb_z = z.bit_length() - 1
        for g in range(z):
            zone = mul32(key, 1 + cfg.k + g) >> (32 - lb_z) if lb_z else 0
            for j in range(kpz):
                i = g * kpz + j
                off = mul32(key, 1 + i) >> (32 - lb_sector)
                out.append(base + zone * zone_bits + (j % spz) * cfg.sector_bits + off)
    return out


GRID = [
    BloomConfig(m_bits=1 << 16, k=4, word_bits=32, words_per_block=1, sectors=1),
    BloomConfig(m_bits=1 << 16, k=4, word_bits=64, words_per_block=1, sectors=1),
    BloomConfig(m_bits=1 << 16, k=8, word_bits=64, words_per_block=8, sectors=1),
    BloomConfig(m_bits=1 << 16, k=8, word_bits=64, words_per_block=8, sectors=4),
    BloomConfig(m_bits=1 << 16, k=8, word_bits=64, words_per_block=8, sectors=8),
    BloomConfig(m_bits=1 << 16, k=8, word_bits=64, words_per_block=8, sectors=8, zones=2),
    BloomConfig(m_bits=1 << 16, k=6, word_bits=32, words_per_block=16, sectors=2),
    # max-k zoned configs: constant indices reach 1+k+z-1 = 24 and 32 — these
    # aliased back into the bit-hash constants when the table was 24 long
    BloomConfig(m_bits=1 << 16, k=16, word_bits=64, words_per_block=8, sectors=16, zones=8),
    BloomConfig(m_bits=1 << 16, k=16, word_bits=64, words_per_block=8, sectors=16, zones=16),
    # magic (fastrange) addressing: non-power-of-two block counts (A7)
    BloomConfig(m_bits=100 * 512, k=8, word_bits=64, words_per_block=8, sectors=8,
                addressing="magic"),
    BloomConfig(m_bits=777 * 64, k=4, word_bits=64, words_per_block=1, sectors=1,
                addressing="magic"),
    BloomConfig(m_bits=300 * 512, k=8, word_bits=64, words_per_block=8, sectors=8,
                zones=2, addressing="magic"),
]


@pytest.mark.parametrize(
    "cfg", GRID,
    ids=lambda c: f"B{c.block_bits}s{c.sectors}z{c.zones}k{c.k}" + (
        "-magic" if c.addressing == "magic" else ""),
)
def test_bloom_matches_scalar_reference(cfg):
    keys = RNG.integers(0, 2**31 - 1, 500).astype(np.int32)
    bits = bloom.empty(cfg)
    bloom.insert(bits, keys, cfg)
    want = np.zeros(cfg.n_bytes, dtype=np.uint8)
    for key in keys.tolist():
        for b in _scalar_bit_indices(int(key) % 2**32, cfg):
            want[b >> 3] |= 1 << (b & 7)
    assert np.array_equal(bits, want)
    # contains agrees with scalar membership for present + absent keys
    probes = np.r_[keys[:100], RNG.integers(2**20, 2**31 - 1, 400).astype(np.int32)]
    got = bloom.contains(probes, bits, cfg)
    for p, g in zip(probes.tolist(), got.tolist()):
        idxs = _scalar_bit_indices(int(p) % 2**32, cfg)
        scalar = all(want[b >> 3] >> (b & 7) & 1 for b in idxs)
        assert scalar == g


def test_bloom_no_false_negatives_large():
    cfg = BloomConfig(m_bits=1 << 22, k=8, word_bits=64, words_per_block=8, sectors=8)
    keys = RNG.integers(0, 2**31 - 1, 300_000).astype(np.int32)
    b = bloom.build(keys, cfg)
    assert bloom.contains_blob(keys, b).all()


def test_bloom_huge_filter_sort_path():
    """m > 2**28 exercises the sort/reduceat scatter path."""
    cfg = BloomConfig(m_bits=1 << 29, k=4, word_bits=64, words_per_block=8, sectors=4)
    keys = RNG.integers(0, 2**31 - 1, 50_000).astype(np.int32)
    b = bloom.build(keys, cfg)
    assert bloom.contains_blob(keys, b).all()
    # cross-check against the packbits path at the same config
    import sketchlib.bloom as bl
    bits = np.zeros(cfg.n_bytes, np.uint8)
    old = bl._CHUNK
    idx = bl._bit_indices(keys.astype(np.uint32), cfg).ravel()
    scratch_bytes = np.zeros(cfg.n_bytes, np.uint8)
    byte_idx = (idx >> np.uint64(3)).astype(np.int64)
    mask = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    for bi, mk in zip(byte_idx, mask):
        scratch_bytes[bi] |= mk
    _, _, payload = blobmod.unpack(b)
    assert bytes(scratch_bytes) == payload


def test_bloom_negative_tokens_rejected():
    cfg = BloomConfig(m_bits=1 << 12, k=2)
    with pytest.raises(SketchConfigError):
        bloom.build(np.array([-1, 2, 3], dtype=np.int32), cfg)


def test_bloom_out_of_range_tokens_rejected():
    """Keys >= 2**32 must raise, not silently alias their low 32 bits
    (token 2**32 used to probe as token 0 — inflated FPR, no error)."""
    cfg = BloomConfig(m_bits=1 << 12, k=2)
    with pytest.raises(SketchConfigError, match="32 bits"):
        bloom.build(np.array([2**32], dtype=np.int64), cfg)
    with pytest.raises(SketchConfigError, match="32 bits"):
        bloom.build(np.array([2**63], dtype=np.uint64), cfg)
    blob_ok = bloom.build(np.array([1, 2**32 - 1], dtype=np.int64), cfg)
    assert bloom.contains_blob(np.array([2**32 - 1], dtype=np.uint64), blob_ok).all()
    with pytest.raises(SketchConfigError, match="32 bits"):
        bloom.contains_blob(np.array([2**32], dtype=np.int64), blob_ok)


def test_zone_hash_constants_not_aliased():
    """With k=16, zones in {8,16} the zone-choice constant index reaches 24
    and 32; the 24-entry table wrapped those onto the block/bit-hash
    constants, making the zone a deterministic function of the block index
    (breaking the independent-zone-arrival FPR model). The table must be
    long enough that every zone hash differs from every bit hash."""
    from sketchlib.bloom import _hash32

    keys = RNG.integers(0, 2**31 - 1, 2_000).astype(np.int32).astype(np.uint32)
    for z in (8, 16):
        cfg = BloomConfig(m_bits=1 << 16, k=16, word_bits=64, words_per_block=8,
                          sectors=16, zones=z)
        prior = [_hash32(keys, i, cfg) for i in range(1 + cfg.k)]
        for g in range(z):
            hz = _hash32(keys, 1 + cfg.k + g, cfg)
            for h in prior:
                assert not np.array_equal(hz, h)


def test_bloom_merge_equals_union_build():
    cfg = BloomConfig(m_bits=1 << 18, k=8, word_bits=64, words_per_block=8, sectors=8)
    a = RNG.integers(0, 2**31 - 1, 10_000).astype(np.int32)
    b = RNG.integers(0, 2**31 - 1, 10_000).astype(np.int32)
    merged = bloom.merge_blobs(bloom.build(a, cfg), bloom.build(b, cfg))
    assert merged == bloom.build(np.r_[a, b], cfg)


def test_bloom_mix_hash_family():
    """Optional splitmix64-finalizer family (A9-class, round 5): zero false
    negatives, empirical FPR consistent with the analytic value, robust on
    the STRUCTURED key set (arithmetic progression) where the linear
    multiplicative family is at its weakest, and never merges with a
    mul-family blob. The default family's bytes are untouched (pinned by
    test_bloom_matches_scalar_reference)."""
    from sketchlib import fpr as fprmod

    cfg = BloomConfig(m_bits=1 << 20, k=8, word_bits=64, words_per_block=8,
                      sectors=8, hash_family="mix")
    n = 60_000
    # adversarially structured keys: stride-64 arithmetic progression
    keys = (np.arange(n, dtype=np.int64) * 64 + 7).astype(np.int32)
    blob_mix = bloom.build(keys, cfg)
    assert bloom.contains_blob(keys, blob_mix).all(), "zero FN is hard"
    probes = RNG.integers(2**25, 2**31 - 1, 200_000).astype(np.int32)
    probes = probes[(probes - 7) % 64 != 0]
    emp = float(bloom.contains_blob(probes, blob_mix).mean())
    ana = float(fprmod.fpr(cfg, n))
    assert emp < 4 * ana + 1e-4, (emp, ana)
    # zoned geometry also exercises the zone-hash site
    zcfg = BloomConfig(m_bits=1 << 20, k=8, word_bits=64, words_per_block=8,
                       sectors=8, zones=4, hash_family="mix")
    zb = bloom.build(keys, zcfg)
    assert bloom.contains_blob(keys, zb).all()
    # different families are different sketches: merge refuses
    mul_blob = bloom.build(keys, BloomConfig(
        m_bits=1 << 20, k=8, word_bits=64, words_per_block=8, sectors=8))
    with pytest.raises(SketchConfigError):
        bloom.merge_blobs(blob_mix, mul_blob)


def test_bloom_config_mismatch_raises():
    a = bloom.build(np.arange(10, dtype=np.int32), BloomConfig(m_bits=1 << 12, k=2))
    b = bloom.build(np.arange(10, dtype=np.int32), BloomConfig(m_bits=1 << 13, k=2))
    with pytest.raises(SketchConfigError):
        bloom.merge_blobs(a, b)


# ---------- edge/property inputs (FIXTURES.md F5) -------------------------------

def test_edge_inputs_all_sketches():
    cfgs = {
        "bloom": BloomConfig(m_bits=1 << 12, k=4),
        "hll": HLLConfig(p=8),
        "cms": CMSConfig(eps=0.01, delta=0.1),
        "kll": KLLConfig(k=64),
        "minhash": MinHashConfig(num_perm=16),
    }
    edge_sets = [
        np.array([], dtype=np.int32),
        np.array([0], dtype=np.int32),
        np.full(5_000, 7, dtype=np.int32),  # all-identical: max collision pressure
        np.array([0, 131071, 2**31 - 1], dtype=np.int32),  # boundary ids
        np.arange(10_000, dtype=np.int32),  # dense sequential (mul-hash worst case)
    ]
    for vals in edge_sets:
        bb = bloom.build_blob(vals, cfgs["bloom"])
        if vals.size:
            assert bloom.contains_blob(vals, bb).all()
        hb = hll.build_blob(vals, cfgs["hll"])
        est = hll.estimate_blob(hb)
        exact = len(np.unique(vals))
        assert abs(est - exact) <= max(3.0, 0.2 * exact)
        cb = cms.build_blob(vals, cfgs["cms"])
        if vals.size:
            assert (cms.query_blob(np.unique(vals), cb) >= 1).all()
        kb = kll.build_blob(vals, cfgs["kll"])
        if vals.size:
            q = kll.quantiles_blob(kb, [0.5])[0]
            assert vals.min() <= q <= vals.max()
        minhash.build_blob(vals, cfgs["minhash"])


def test_blob_roundtrip_and_bad_blob():
    cfg = HLLConfig(p=6)
    b = hll.build_blob(np.arange(100, dtype=np.int64), cfg)
    name, cfg2, payload = blobmod.unpack(b)
    # mode byte (0 = dense) + 2^p registers
    assert name == "hll" and cfg2 == cfg and payload[0] == 0 and len(payload) == 1 + 64
    with pytest.raises(SketchConfigError):
        blobmod.unpack(b"XXXX" + b[4:])
    with pytest.raises(SketchConfigError):
        bloom.contains_blob(np.arange(3, dtype=np.int32), b)  # wrong sketch kind
    # every malformed-blob shape raises SketchConfigError, never a bare
    # KeyError / UnicodeDecodeError / IndexError
    with pytest.raises(SketchConfigError, match="unknown sketch id"):
        blobmod.unpack(b[:4] + bytes([99]) + b[5:])  # corrupt sid byte
    with pytest.raises(SketchConfigError, match="truncated"):
        blobmod.unpack(b[:6] + (0xFFFF).to_bytes(2, "little") + b[8:])  # huge cfg_len
    with pytest.raises(SketchConfigError, match="corrupt blob config"):
        blobmod.unpack(b[:8] + b"\xff" * (len(b) - 8))  # non-JSON config bytes


def test_kll_tdigest_corrupt_payload_raises():
    """Truncated / misaligned quantile-sketch payloads raise
    SketchConfigError, not struct.error or reshape ValueError."""
    kcfg, tcfg = KLLConfig(), TDigestConfig()
    with pytest.raises(SketchConfigError, match="shorter"):
        kll.KLL.from_payload(kcfg, b"\x00" * 4)
    with pytest.raises(SketchConfigError, match="truncated"):
        kll.KLL.from_payload(
            kcfg, struct.pack("<QI", 10, 50))  # 50 level counts, none present
    good = struct.pack("<QIQ", 2, 1, 2) + np.array([1.0, 2.0]).tobytes()
    assert kll.KLL.from_payload(kcfg, good).n == 2
    with pytest.raises(SketchConfigError, match="items"):
        kll.KLL.from_payload(kcfg, good + b"\x00" * 8)  # extra item vs counts
    with pytest.raises(SketchConfigError, match="pairs"):
        tdigest.TDigest.from_payload(tcfg, struct.pack("<Q", 1) + b"\x00" * 12)
    with pytest.raises(SketchConfigError, match="pairs"):
        tdigest.TDigest.from_payload(tcfg, b"\x00" * 4)


def test_cms_cu_total_blob_refused():
    """total_blob is row-sum-equals-N math; CU raises cells to maxima, so it
    must refuse rather than return a silently wrong N."""
    cfg = CMSConfig(eps=0.01, delta=0.1, conservative=True)
    b = cms.build_blob(np.arange(1000, dtype=np.int64), cfg)
    with pytest.raises(SketchConfigError, match="conservative"):
        cms.total_blob(b)


def test_hll_corrupt_payload_raises():
    """Truncated / out-of-range HLL payloads raise SketchConfigError instead
    of silently skewing estimates (short dense) or bare IndexError (sparse)."""
    cfg = HLLConfig(p=8)
    with pytest.raises(SketchConfigError, match="dense payload"):
        hll.decode_registers(bytes([0]) + b"\x00" * 100, cfg.p)  # short dense
    with pytest.raises(SketchConfigError, match="truncated"):
        hll.decode_registers(bytes([1]) + (50).to_bytes(4, "little") + b"\x00" * 10, cfg.p)
    bad_idx = (bytes([1]) + (1).to_bytes(4, "little")
               + (3000).to_bytes(4, "little", signed=True) + bytes([5]))
    with pytest.raises(SketchConfigError, match="out-of-range"):
        hll.decode_registers(bad_idx, cfg.p)  # idx 3000 >= m=256
    with pytest.raises(SketchConfigError, match="empty"):
        hll.decode_registers(b"", cfg.p)


def test_hll_sparse_dense_parity_and_merge_modes():
    """Sparse (low-cardinality) HLL payloads must estimate identically to the
    dense register computation, merge correctly with dense ones in either
    order (byte-identical), and the payload mode must be a pure function of
    register content."""
    cfg = HLLConfig(p=14)
    small = np.arange(500, dtype=np.int64)
    big = np.arange(50_000, dtype=np.int64)
    bs = hll.build_blob(small, cfg)
    bb = hll.build_blob(big, cfg)
    assert blobmod.unpack(bs)[2][0] == 1  # sparse
    assert blobmod.unpack(bb)[2][0] == 0  # dense

    regs = hll.empty(cfg)
    hll.insert(regs, small, cfg)
    assert hll.estimate_registers(regs, cfg.p) == hll.estimate_blob(bs)

    m1 = hll.merge_blobs(bs, bb)
    m2 = hll.merge_blobs(bb, bs)
    assert m1 == m2  # byte-identical regardless of operand order/mode

    other = np.arange(9_000, 9_500, dtype=np.int64)
    mm = hll.merge_blobs(bs, hll.build_blob(other, cfg))
    assert blobmod.unpack(mm)[2][0] == 1  # still sparse: union is small
    regs2 = hll.empty(cfg)
    hll.insert(regs2, np.r_[small, other], cfg)
    assert hll.estimate_registers(regs2, cfg.p) == hll.estimate_blob(mm)
    assert np.array_equal(hll.decode_registers(blobmod.unpack(mm)[2], cfg.p), regs2)


# ---------- ingest-chunk invariance (round-4: fixed ingest quanta) -----------

def test_kll_chunk_invariance():
    """The serialized KLL state must be a pure function of the value
    SEQUENCE, not of how callers chunked it: values are buffered and
    compacted only at fixed INGEST_QUANTUM boundaries."""
    import numpy as np

    from sketchlib import blob as blobmod
    from sketchlib.config import KLLConfig
    from sketchlib.kll import KLL

    rng = np.random.default_rng(7)
    vals = rng.normal(size=200_000)  # > 2 quanta
    cfg = KLLConfig(k=200)
    one = KLL(cfg)
    one.update(vals)
    for n_chunks in (3, 37, 501):
        chunked = KLL(cfg)
        for part in np.array_split(vals, n_chunks):
            chunked.update(part)
        assert chunked.to_payload() == one.to_payload(), n_chunks


def test_tdigest_chunk_invariance():
    import numpy as np

    from sketchlib.config import TDigestConfig
    from sketchlib.tdigest import TDigest

    rng = np.random.default_rng(11)
    vals = rng.normal(size=200_000)
    cfg = TDigestConfig(compression=100)
    one = TDigest(cfg)
    one.update(vals)
    for n_chunks in (3, 37, 501):
        chunked = TDigest(cfg)
        for part in np.array_split(vals, n_chunks):
            chunked.update(part)
        assert chunked.to_payload() == one.to_payload(), n_chunks


def test_cms_narrow_counters():
    """Variable-width counters (round-4, PAPERS.md VLDB'23): identical
    estimates to int64 while every cell load fits the width; saturation
    (est >= min(true, counter_max)) beyond; saturating merge stays
    order-independent."""
    import numpy as np

    from sketchlib import cms
    from sketchlib.config import CMSConfig

    rng = np.random.default_rng(5)
    vals = rng.integers(0, 500, 20_000, dtype=np.int64)
    probe = np.arange(500, dtype=np.int64)
    wide = cms.build_blob(vals, CMSConfig(eps=0.01, delta=0.01))
    for bits in (16, 32):
        narrow = cms.build_blob(vals, CMSConfig(eps=0.01, delta=0.01, counter_bits=bits))
        assert len(narrow) < len(wide)
        assert np.array_equal(cms.query_blob(probe, narrow),
                              cms.query_blob(probe, wide)), bits

    # 8-bit saturation: a single hot key far above 255 caps at counter_max
    cfg8 = CMSConfig(eps=0.01, delta=0.01, counter_bits=8)
    hot = np.zeros(10_000, dtype=np.int64)
    blob8 = cms.build_blob(hot, cfg8)
    assert cms.query_blob(np.array([0]), blob8)[0] == cfg8.counter_max

    # saturating merge: same result under any merge order, and capped
    parts = [cms.build_blob(np.full(120, 7, dtype=np.int64), cfg8) for _ in range(4)]
    from functools import reduce
    m1 = reduce(cms.merge_blobs, parts)
    m2 = reduce(cms.merge_blobs, parts[::-1])
    assert m1 == m2
    assert cms.query_blob(np.array([7]), m1)[0] == cfg8.counter_max

    # the one merge saturates instead of wrapping (ADVICE r4): 200+200 on
    # uint8 counters caps at 255, never 144; int64 counters add exactly
    b200 = cms.build_blob(np.full(200, 7, dtype=np.int64), cfg8)
    assert cms.query_blob(np.array([7]), cms.merge_many_blobs([b200, b200]))[0] == 255
    b3 = cms.build_blob(np.full(3, 7, dtype=np.int64), CMSConfig(eps=0.01, delta=0.01))
    assert cms.query_blob(np.array([7]), cms.merge_many_blobs([b3, b3]))[0] == 6


def test_kll_payload_truncated_mid_item_raises():
    """A payload whose item region is not a whole number of float64s (e.g.
    truncated mid-item) must raise SketchConfigError, not np.frombuffer's
    raw ValueError."""
    good = struct.pack("<QIQ", 2, 1, 2) + np.array([1.0, 2.0]).tobytes()
    with pytest.raises(SketchConfigError, match="whole number"):
        kll.KLL.from_payload(KLLConfig(), good[:-3])
