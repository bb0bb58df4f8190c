"""Probe broadcasts: one ``SparkContext.broadcast`` per distinct blob per
context, reused by later probes and bounded by a byte budget whose eviction
never destroys a broadcast a lazy DataFrame still holds."""

from __future__ import annotations

import gc
import sys
import threading
import time

import numpy as np
import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from sketchlib import bloom, cms, cuckoo, probe
from sketchlib.config import BloomConfig, CMSConfig

_BLOOM_CFG = BloomConfig(m_bits=1 << 16, k=4, word_bits=64, words_per_block=8, sectors=1)


@pytest.fixture
def broadcasts(spark, monkeypatch):
    """Values passed to ``SparkContext.broadcast`` during the test, counted
    against an empty probe-broadcast cache."""
    monkeypatch.delattr(spark.sparkContext, "_sketchlib_broadcasts", raising=False)
    made = []
    orig = SparkContext.broadcast

    def spy(self, value):
        made.append(value)
        return orig(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    return made


def _keys(spark, n=3000):
    return spark.range(n).select(F.col("id").cast("int").alias("t"))


def _members(df, col="member"):
    return [r[col] for r in df.orderBy("t").select(col).collect()]


def test_equal_blobs_share_one_broadcast(spark, broadcasts):
    blob = bloom.build_blob(np.arange(0, 2000, 2, dtype=np.int64), _BLOOM_CFG)
    keys = _keys(spark)
    a = probe.with_bloom_membership(keys, blob, "t")
    b = probe.with_bloom_membership(keys, blob, "t")
    c = probe.with_bloom_membership(keys, bytes(bytearray(blob)), "t")
    assert len(broadcasts) == 1
    got = _members(a)
    assert got == _members(b) == _members(c)
    assert all(got[i] for i in range(0, 2000, 2))  # zero false negatives
    assert got == bloom.contains_blob(np.arange(3000), blob).tolist()

    other = bloom.build_blob(np.arange(1, 2000, 2, dtype=np.int64), _BLOOM_CFG)
    probe.with_bloom_membership(keys, other, "t")
    assert len(broadcasts) == 2
    # a buffer that is not bytes is keyed by its content too
    probe.with_bloom_membership(keys, memoryview(other), "t")
    assert len(broadcasts) == 2


def test_eviction_keeps_earlier_dataframes_working(spark, broadcasts, monkeypatch):
    blob_a = bloom.build_blob(np.arange(0, 2000, 3, dtype=np.int64), _BLOOM_CFG)
    blob_b = bloom.build_blob(np.arange(1, 2000, 3, dtype=np.int64), _BLOOM_CFG)
    monkeypatch.setattr(probe, "_BROADCAST_BUDGET_BYTES", len(blob_a))
    keys = _keys(spark)
    df_a = probe.with_bloom_membership(keys, blob_a, "t")
    want = bloom.contains_blob(np.arange(3000), blob_a).tolist()
    assert _members(df_a) == want

    probe.with_bloom_membership(keys, blob_b, "t")
    cache = spark.sparkContext._sketchlib_broadcasts
    assert list(cache) == [blob_b]
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    # the evicted broadcast still serves the DataFrame built before eviction
    assert _members(df_a) == want
    # and a new probe of the evicted blob broadcasts it again
    probe.with_bloom_membership(keys, blob_a, "t")
    assert len(broadcasts) == 3
    assert list(cache) == [blob_a]


def test_cms_and_cuckoo_probes_reuse_broadcasts(spark, broadcasts):
    values = np.repeat(np.arange(100, dtype=np.int64), 3)
    cms_blob = cms.build_blob(values, CMSConfig(eps=0.01, delta=0.01))
    cf = cuckoo.CuckooFilter(cuckoo.CuckooConfig(n_buckets=1 << 10))
    cf.insert(np.arange(500, dtype=np.int64))
    cuckoo_blob = cf.to_blob()
    keys = _keys(spark, 1000)

    counts = [probe.with_cms_count(keys, cms_blob, "t") for _ in range(2)]
    member = [probe.with_cuckoo_membership(keys, cuckoo_blob, "t") for _ in range(2)]
    assert broadcasts == [cms_blob, cuckoo_blob]
    est = _members(counts[0], "est_count")
    assert est == _members(counts[1], "est_count")
    assert est == cms.query_blob(np.arange(1000), cms_blob).tolist()
    hits = _members(member[0])
    assert hits == _members(member[1])
    assert all(hits[:500])  # zero false negatives


class _Ctx:
    """Stand-in SparkContext that records what it broadcasts."""

    def __init__(self):
        self.made = []

    def broadcast(self, value):
        time.sleep(0.001)  # widen the check-then-act window for the thread test
        self.made.append(value)
        return object()


def test_broadcast_cache_is_a_byte_bounded_lru(monkeypatch):
    """LRU order, the byte budget and the always-admitted newest blob, on a
    stand-in context (no Spark needed)."""
    monkeypatch.setattr(probe, "_BROADCAST_BUDGET_BYTES", 10)
    sc = _Ctx()
    a, b, c, big = b"a" * 4, b"b" * 4, b"c" * 4, b"d" * 25
    bc_a = probe._broadcast(sc, a)
    probe._broadcast(sc, b)
    assert probe._broadcast(sc, bytearray(a)) is bc_a  # hit refreshes a
    probe._broadcast(sc, c)  # 12 bytes > 10: evicts b, the least recent
    assert list(sc._sketchlib_broadcasts) == [a, c]
    probe._broadcast(sc, big)  # over budget alone, still admitted
    assert list(sc._sketchlib_broadcasts) == [big]


def test_broadcast_cache_threads_broadcast_each_blob_once():
    """Concurrent probes of the same blobs from more threads than cores:
    each distinct blob is broadcast exactly once."""
    sc = _Ctx()
    blobs = [bytes([i]) * 64 for i in range(5)]

    def work():
        for _ in range(200):
            for b in blobs:
                probe._broadcast(sc, bytearray(b))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert sorted(sc.made) == blobs
