"""The blob codec (``sketchlib.blob``): payloads are read in place, every
reader and merge rejects a blob of another sketch, and the one n-ary merge
of each sketch is permutation-invariant and equals the pairwise fold where
the sketch's fold is exact."""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow as pa
import pytest

from sketchlib import blob as blobmod, bloom, cms, cuckoo, hll, kll, minhash, probe, tdigest
from sketchlib.config import (
    BloomConfig, CMSConfig, HLLConfig, KLLConfig, MinHashConfig, SketchConfigError, TDigestConfig,
)

MODULES = {"bloom": bloom, "hll": hll, "cms": cms, "kll": kll, "tdigest": tdigest,
           "minhash": minhash, "cuckoo": cuckoo}
KEYS = np.arange(100, dtype=np.int64)


def _cuckoo_blob(keys: np.ndarray) -> bytes:
    f = cuckoo.CuckooFilter(cuckoo.CuckooConfig(n_buckets=1 << 12))
    f.insert(np.unique(keys))
    return f.to_blob()


_BUILD = {
    "bloom": lambda k: bloom.build_blob(k, BloomConfig(m_bits=1 << 16, k=4)),
    # p=12: key sets of up to ~800 keys stay sparse, larger ones go dense
    "hll": lambda k: hll.build_blob(k, HLLConfig(p=12)),
    "cms": lambda k: cms.build_blob(k, CMSConfig(eps=0.01, delta=0.05, counter_bits=8)),
    "kll": lambda k: kll.build_blob(k.astype(np.float64), KLLConfig(k=32)),
    "tdigest": lambda k: tdigest.build_blob(k.astype(np.float64), TDigestConfig(compression=20)),
    "minhash": lambda k: minhash.build_blob(k, MinHashConfig(num_perm=32)),
    "cuckoo": _cuckoo_blob,
}


def _partials(name: str) -> list[bytes]:
    """Seven partials over overlapping key sets of mixed sizes (1 to 5,000)."""
    rng = np.random.default_rng(13)
    return [_BUILD[name](rng.integers(0, 20_000, n)) for n in (10, 200, 5_000, 40, 3_000, 1, 800)]


def test_unpack_payload_is_a_view():
    b = bloom.build_blob(KEYS, BloomConfig(m_bits=1 << 16, k=4))
    _, _, payload = blobmod.unpack(b)
    assert np.shares_memory(np.frombuffer(payload, np.uint8), np.frombuffer(b, np.uint8))
    # Arrow buffers (how the merge tree reads its blob column) unpack in place too
    buf = pa.py_buffer(b)
    assert blobmod.unpack(buf)[2] == payload
    assert bloom.merge_many_blobs([buf, buf]) == b


# reader -> (the sketch it reads, call on a blob)
_READERS = {
    "bloom.contains_blob": ("bloom", lambda b: bloom.contains_blob(KEYS, b)),
    "hll.estimate_blob": ("hll", hll.estimate_blob),
    "cms.query_blob": ("cms", lambda b: cms.query_blob(KEYS, b)),
    "cms.total_blob": ("cms", cms.total_blob),
    "kll.quantiles_blob": ("kll", lambda b: kll.quantiles_blob(b, [0.5])),
    "tdigest.quantiles_blob": ("tdigest", lambda b: tdigest.quantiles_blob(b, [0.5])),
    "minhash.jaccard_blobs": ("minhash", lambda b: minhash.jaccard_blobs(b, b)),
    "cuckoo.contains_blob": ("cuckoo", lambda b: cuckoo.contains_blob(KEYS, b)),
    # the probe operators check the blob before they touch the DataFrame
    "probe.with_bloom_membership": ("bloom", lambda b: probe.with_bloom_membership(None, b, "k")),
    "probe.with_cuckoo_membership": ("cuckoo",
                                     lambda b: probe.with_cuckoo_membership(None, b, "k")),
    "probe.with_cms_count": ("cms", lambda b: probe.with_cms_count(None, b, "k")),
    "probe.with_kll_rank": ("kll", lambda b: probe.with_kll_rank(None, b, "k")),
}
for _n, _m in MODULES.items():
    _READERS[f"{_n}.merge_blobs"] = (_n, lambda b, m=_m, n=_n: m.merge_blobs(_BUILD[n](KEYS), b))
    _READERS[f"{_n}.merge_many_blobs"] = (
        _n, lambda b, m=_m, n=_n: m.merge_many_blobs([b, _BUILD[n](KEYS)]))


@pytest.mark.parametrize("reader", sorted(_READERS))
def test_reader_rejects_other_sketch(reader):
    own, read = _READERS[reader]
    for name, build in _BUILD.items():
        if name != own:
            with pytest.raises(SketchConfigError, match=f"got a {name} blob"):
                read(build(KEYS))


def test_merge_many_permutation_invariant():
    """The one n-ary merge of every sketch is byte-identical under any
    permutation of its inputs (cuckoo unions in input order, so there only
    membership is), and equals the pairwise fold wherever that fold is
    exact (all but the KLL and t-digest lazy compaction). This is what makes
    the merged blob independent of partition numbering across engines."""
    for name, mod in MODULES.items():
        blobs = _partials(name)
        ref = mod.merge_many_blobs(blobs)
        if name not in ("kll", "tdigest"):
            assert reduce(mod.merge_blobs, blobs) == ref, name
        for seed in (1, 2, 3):
            perm = np.random.default_rng(seed).permutation(len(blobs))
            got = mod.merge_many_blobs([blobs[i] for i in perm])
            if name == "cuckoo":
                assert np.array_equal(cuckoo.contains_blob(KEYS, got),
                                      cuckoo.contains_blob(KEYS, ref)), seed
            else:
                assert got == ref, (name, seed)
