"""Count-min sketch — NumPy kernels.

Cormode & Muthukrishnan 2005. Not in the reference (filter library); mandated
by the north rule (BASELINE.json:14). Payload: ``d x w`` counters, C-order,
int64 by default or uint8/16/32 with ``cfg.counter_bits`` (variable-width
counters: 2-8x less state/shuffle at equal eps; adds saturate at
``cfg.counter_max`` instead of wrapping, so min(cap, sum) stays a
commutative/associative merge). Merge = elementwise (saturating) add →
byte-identical under merge permutation. Guarantees (tested in T3):
``est >= min(true, counter_max)`` always (``counter_max`` unreachable for
int64, recovering the classic overcount-only contract);
``est <= true + eps * N`` with probability >= 1 - delta per query.

Row updates use ``np.bincount`` (fast histogram) instead of the notoriously
slow ``np.add.at`` scatter.
"""

from __future__ import annotations

import numpy as np

from sketchlib import blob as blobmod
from sketchlib.config import CMSConfig, SketchConfigError
from sketchlib.hashing import splitmix64

_CHUNK = 1 << 22


_DTYPES = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.int64}


def empty(cfg: CMSConfig) -> np.ndarray:
    return np.zeros((cfg.depth, cfg.width), dtype=_DTYPES[cfg.counter_bits])


def _sat_add_row(row: np.ndarray, delta: np.ndarray, cfg: CMSConfig) -> None:
    """row += delta, saturating at cfg.counter_max for narrow counters (the
    int64 default adds exactly — cell loads cannot reach 2**63)."""
    if cfg.counter_bits == 64:
        row += delta
        return
    tmp = row.astype(np.int64)
    tmp += delta
    np.minimum(tmp, cfg.counter_max, out=tmp)
    row[:] = tmp.astype(row.dtype)


def _cols(values: np.ndarray, row: int, cfg: CMSConfig) -> np.ndarray:
    h = splitmix64(values, seed=cfg.hash_seed * 1000 + row)
    # fastrange (Lemire): multiply-shift maps uniform u64 -> [0, w) without mod
    return ((h >> np.uint64(32)) * np.uint64(cfg.width) >> np.uint64(32)).astype(np.int64)


def insert(counters: np.ndarray, values: np.ndarray, cfg: CMSConfig) -> None:
    w = cfg.width
    for lo in range(0, values.shape[0], _CHUNK):
        chunk = values[lo : lo + _CHUNK]
        for r in range(cfg.depth):
            _sat_add_row(counters[r], np.bincount(_cols(chunk, r, cfg), minlength=w), cfg)


def insert_weighted(
    counters: np.ndarray, uniq: np.ndarray, counts: np.ndarray, cfg: CMSConfig
) -> None:
    """Add ``counts[i]`` occurrences of ``uniq[i]`` — the pre-aggregated path
    (exact: bincount weight sums of int64 counts stay < 2**53)."""
    w = cfg.width
    wts = counts.astype(np.float64, copy=False)
    for lo in range(0, uniq.shape[0], _CHUNK):
        chunk = uniq[lo : lo + _CHUNK]
        cw = wts[lo : lo + _CHUNK]
        for r in range(cfg.depth):
            _sat_add_row(
                counters[r],
                np.bincount(_cols(chunk, r, cfg), weights=cw, minlength=w).astype(np.int64),
                cfg)


def insert_weighted_cu(
    counters: np.ndarray, uniq: np.ndarray, counts: np.ndarray, cfg: CMSConfig
) -> None:
    """Conservative update (Estan & Varghese, SIGCOMM 2002), batched by
    pre-aggregated counts: for each unique value, every one of its d cells
    rises to max(cell, min_of_its_cells + count). Keeps ``est >= true``
    (induction: before an update min >= true_old, so the target covers
    true_new; cells only grow) while raising non-minimal cells far less than
    the plain add — measurably tighter estimates on Zipf streams. Intra-batch
    cell collisions resolve through sequential ``np.maximum.at``, which can
    only enlarge cells, so the one-sided bound survives batching."""
    d = cfg.depth
    for lo in range(0, uniq.shape[0], _CHUNK):
        u = uniq[lo: lo + _CHUNK]
        c = counts[lo: lo + _CHUNK].astype(np.int64, copy=False)
        cols = [_cols(u, r, cfg) for r in range(d)]
        est = counters[0][cols[0]].astype(np.int64)
        for r in range(1, d):
            np.minimum(est, counters[r][cols[r]], out=est)
        target = est + c
        if cfg.counter_bits != 64:
            np.minimum(target, cfg.counter_max, out=target)
        target = target.astype(counters.dtype, copy=False)
        for r in range(d):
            np.maximum.at(counters[r], cols[r], target)


def insert_cu(counters: np.ndarray, values: np.ndarray, cfg: CMSConfig) -> None:
    uniq, counts = np.unique(values, return_counts=True)
    insert_weighted_cu(counters, uniq, counts, cfg)


def query(counters: np.ndarray, values: np.ndarray, cfg: CMSConfig) -> np.ndarray:
    """Point-query estimates (int64) for a batch of values: min over d rows."""
    est = counters[0][_cols(values, 0, cfg)].astype(np.int64)
    for r in range(1, cfg.depth):
        est = np.minimum(est, counters[r][_cols(values, r, cfg)])
    return est


class CMSBuilder:
    __slots__ = ("cfg", "counters")
    supports_unique = True  # via weighted updates

    def __init__(self, cfg: CMSConfig):
        self.cfg = cfg
        self.counters = empty(cfg)

    def update(self, values: np.ndarray) -> None:
        if self.cfg.conservative:
            insert_cu(self.counters, values, self.cfg)
        else:
            insert(self.counters, values, self.cfg)

    def update_unique(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        if self.cfg.conservative:
            insert_weighted_cu(self.counters, uniq, counts, self.cfg)
        else:
            insert_weighted(self.counters, uniq, counts, self.cfg)

    def to_payload(self) -> bytes:
        return self.counters.tobytes()


def new_builder(cfg: CMSConfig) -> CMSBuilder:
    return CMSBuilder(cfg)


def build_blob(values: np.ndarray, cfg: CMSConfig) -> bytes:
    c = empty(cfg)
    (insert_cu if cfg.conservative else insert)(c, values, cfg)
    return blobmod.pack("cms", cfg, c.tobytes())


def _payload_to_counters(cfg: CMSConfig, payload: bytes) -> np.ndarray:
    return np.frombuffer(payload, dtype=_DTYPES[cfg.counter_bits]).reshape(
        cfg.depth, cfg.width)


def _fold(cfg: CMSConfig, payloads: list) -> np.ndarray:
    """Elementwise add, accumulated in place in int64. Narrow unsigned
    counters saturate at ``cfg.counter_max`` instead of wrapping:
    min(cap, a+b+...) is commutative and associative (addition saturates
    upward), so any merge grouping gives the same bytes."""
    if cfg.conservative:
        raise SketchConfigError(
            "conservative-update CMS blobs are not mergeable: CU's tightened "
            "estimates do not survive partial addition — build CU sketches in "
            "one pass (cms.build_blob) for the query path, or use the default "
            "plain-update config for distributed builds"
        )
    acc = _payload_to_counters(cfg, payloads[0]).astype(np.int64)
    for p in payloads[1:]:
        acc += _payload_to_counters(cfg, p)
    if cfg.counter_bits == 64:
        return acc
    np.minimum(acc, cfg.counter_max, out=acc)
    return acc.astype(_DTYPES[cfg.counter_bits])


def merge_many_blobs(blobs: list[bytes]) -> bytes:
    return blobmod.merge("cms", blobs, _fold)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    return merge_many_blobs([a, b])


def query_blob(values: np.ndarray, blob: bytes) -> np.ndarray:
    _, cfg, payload = blobmod.unpack(blob, "cms")
    return query(_payload_to_counters(cfg, payload), values, cfg)


def total_blob(blob: bytes) -> int:
    """N — total insertions (row sums are all N; use row 0). Caveat for
    narrow counters: once any cell in the row has saturated at counter_max
    the row sum undercounts true N — exact only below the saturation cap
    (always exact for the 64-bit default). Refused for conservative-update
    blobs: CU raises cells to a max rather than adding, so no row sums to N."""
    _, cfg, payload = blobmod.unpack(blob, "cms")
    if cfg.conservative:
        raise SketchConfigError(
            "total_blob is undefined for conservative-update CMS (row sums "
            "are not N under CU); track N exactly alongside the sketch")
    return int(_payload_to_counters(cfg, payload)[0].sum())
