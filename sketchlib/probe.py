"""Probe-side operators: turn a finished sketch blob into a DataFrame column.

The reference's ``batch_contains`` emits a selection vector of matching probe
positions (bloomfilter-bsd ``blocked_bloomfilter.hpp`` [path-level,
unverified]); the Spark idiom is a boolean membership column — Catalyst turns
``df.filter(col)`` back into a selection, and the column composes with
any downstream plan (semi-join pruning, sideways information passing).

Blobs are shipped via ``SparkContext.broadcast`` (one copy per executor, not
per task), one broadcast per distinct blob per SparkContext: later probes of an
equal blob reuse it, within a byte budget (``_BROADCAST_BUDGET_BYTES``). They
are probed with vectorized kernels inside a scalar Arrow UDF over
ONLY the key column: the plan's ``ArrowEvalPython`` exchange transfers just
that column to the Python worker and the JVM zips the result column back in.
(The previous ``mapInArrow`` formulation round-tripped the ENTIRE input
schema through Python — harmless on a one-column probe table, a scale-killer
when probing a wide 100 TB corpus table.)
"""

from __future__ import annotations

import threading
from collections import OrderedDict

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from sketchlib import _worker, arrowutil, blob as blobmod, bloom, cms, cuckoo, kll
from sketchlib.config import SketchConfigError


def _coalesce_for_probe(df: DataFrame) -> DataFrame:
    """Pack a many-small-partition input into fewer probe tasks: every
    python-exec task has a fixed cost regardless of size (~60 ms of JVM task
    time for an empty task on a 4-core host, see the note above
    ``agg._MAX_CLOSURE_PATH_BYTES``), so a 101-file corpus probed at
    one-file-per-task pays ~26 waves of it on 4 cores instead of one. Target = max(default parallelism, input_bytes / 128 MB) — a
    100 TB table keeps its thousands of partitions, a small one collapses to
    one wave. coalesce() is a narrow dependency: no shuffle, no row movement
    across workers beyond task packing, so results are unchanged.

    Chained probes (df is directly the output of a probe) skip the check: it
    was already made on the probe's input, a withColumn cannot change the
    partitioning, and the ``df.rdd`` partition-count read below forces a
    fresh physical planning pass (~60-90 ms of driver time PER CALL on a
    growing plan — measured 1.6 s for a 9-probe chain)."""
    if getattr(df, "_sketchlib_coalesce_checked", False):
        return df
    try:
        current = df.rdd.getNumPartitions()
        sc = df.sparkSession.sparkContext
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        want = max(int(sc.defaultParallelism), size // (128 << 20))
        if current > want:
            return df.coalesce(want)
    except Exception:
        pass
    return df


# Bytes of blobs whose broadcasts one SparkContext keeps for reuse. In bytes
# because each cached blob also stays loaded in every Python worker that
# probed it. The newest blob is always admitted, whatever its size.
_BROADCAST_BUDGET_BYTES = 512 << 20
_broadcast_lock = threading.Lock()


def _broadcast(sc, blob):
    """The broadcast of ``blob`` on ``sc``, made on the first probe of an
    equal blob and reused by later ones: re-broadcasting a 128 MiB filter
    re-pickles it, re-registers it in the block manager and makes every
    Python worker load it again, per call.

    The cache is an LRU keyed by the blob's bytes, stored on the SparkContext
    so a stopped context takes its broadcasts with it. A ``bytes`` blob is
    its own key (CPython caches its hash); other buffers are copied to
    ``bytes`` first, as pickling them would. Eviction only drops the cache's
    reference and never unpersists: lazy DataFrames from earlier calls still
    hold the broadcast in their UDF closure, and Spark's ContextCleaner frees
    it once nothing refers to it."""
    key = blob if isinstance(blob, bytes) else bytes(blob)
    with _broadcast_lock:
        cache = getattr(sc, "_sketchlib_broadcasts", None)
        if cache is None:
            cache = sc._sketchlib_broadcasts = OrderedDict()
        bc = cache.get(key)
        if bc is not None:
            cache.move_to_end(key)
            return bc
        bc = cache[key] = sc.broadcast(key)
        held = sum(len(k) for k in cache)
        while held > _BROADCAST_BUDGET_BYTES and len(cache) > 1:
            held -= len(cache.popitem(last=False)[0])
        return bc


def _append_col_map(df: DataFrame, blob: bytes, col: str, out: str, kernel, out_type,
                    array_mode: str = "all"):
    df = _coalesce_for_probe(df)
    bc = _broadcast(df.sparkSession.sparkContext, blob)

    def probe(arr: pa.Array) -> pa.Array:
        _worker.drop_spark_zip_finders()
        payload_blob = bc.value
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        # null inputs -> null outputs (sketch inputs are non-null by
        # contract; masked rather than dropped so row alignment holds)
        mask = None
        if arr.null_count:
            mask = np.invert(arr.is_valid().to_numpy(zero_copy_only=False))
        if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
            flat, starts = arrowutil.list_to_flat(arr)
            res_flat = kernel(flat, payload_blob)
            if res_flat.dtype != bool:
                raise SketchConfigError("array-column probe only supports boolean kernels")
            # per-row semantics for array columns: 'all' tokens present /
            # 'any' token present (empty rows: all=True, any=False)
            seg_len = np.diff(np.r_[starts, flat.shape[0]])
            csum = np.r_[0, np.cumsum(res_flat.astype(np.int64))]
            hits = csum[np.r_[starts, flat.shape[0]][1:]] - csum[starts]
            res = hits == seg_len if array_mode == "all" else hits > 0
        elif mask is not None:
            # drop-and-reinsert instead of fill_null(sentinel): works for any
            # key type (fill_null(0) raises ArrowTypeError on string keys)
            vals = arr.drop_null().to_numpy(zero_copy_only=False)
            res_valid = kernel(vals, payload_blob)
            res = np.zeros(len(arr), dtype=res_valid.dtype)
            res[~mask] = res_valid
        else:
            res = kernel(arr.to_numpy(zero_copy_only=False), payload_blob)
        return pa.array(res, type=out_type, mask=mask)

    type_str = {pa.bool_(): "boolean", pa.int64(): "bigint", pa.float64(): "double"}[out_type]
    probe_udf = F.arrow_udf(probe, type_str)
    res = df.withColumn(out, probe_udf(F.col(col)))
    # "coalesce check done" (whether or not it coalesced): a plain Python
    # attribute, so any transformation between two probes drops it by design
    # and the next probe pays the check again
    res._sketchlib_coalesce_checked = True
    return res


def with_bloom_membership(df: DataFrame, blob: bytes, col: str, out: str = "member",
                          array_mode: str = "all") -> DataFrame:
    """Boolean membership column. Guarantee: never false for inserted keys
    (zero false negatives); true-rate on absent keys = the analytic FPR.
    For array columns ``array_mode`` picks ALL-tokens vs ANY-token semantics."""
    blobmod.unpack(blob, "bloom")
    if array_mode not in ("all", "any"):
        raise SketchConfigError("array_mode must be 'all' or 'any'")
    return _append_col_map(df, blob, col, out, bloom.contains_blob, pa.bool_(), array_mode)


def with_cuckoo_membership(df: DataFrame, blob: bytes, col: str, out: str = "member",
                           array_mode: str = "all") -> DataFrame:
    """Boolean membership column against a cuckoo filter blob — zero false
    negatives for inserted keys, FPR ~ 2*bucket_size/2^bits_per_tag
    ([FAN14] §3.1). Same column semantics as the Bloom probe."""
    blobmod.unpack(blob, "cuckoo")
    if array_mode not in ("all", "any"):
        raise SketchConfigError("array_mode must be 'all' or 'any'")
    return _append_col_map(df, blob, col, out, cuckoo.contains_blob, pa.bool_(), array_mode)


def with_cms_count(df: DataFrame, blob: bytes, col: str, out: str = "est_count") -> DataFrame:
    """Point-estimate count column (est >= true; est <= true + eps*N w.p. 1-delta)."""
    blobmod.unpack(blob, "cms")
    return _append_col_map(df, blob, col, out, cms.query_blob, pa.int64())


def with_kll_rank(df: DataFrame, blob: bytes, col: str, out: str = "est_rank") -> DataFrame:
    """Estimated normalized rank of each value under the sketched distribution."""
    blobmod.unpack(blob, "kll")

    def kernel(values, b):
        _, cfg, payload = blobmod.unpack(b)
        return kll.KLL.from_payload(cfg, payload).rank(values)

    return _append_col_map(df, blob, col, out, kernel, pa.float64())


def bloom_prune_join(
    left: DataFrame, right: DataFrame, left_key: str, right_blob: bytes, how: str = "inner",
    right_key: str | None = None,
) -> DataFrame:
    """Sideways-information-passing demo: pre-filter ``left`` by a Bloom blob
    built over ``right``'s keys before the actual join — the classic use the
    reference library was built for inside MPP engines ([SIGMOD19] §1).
    Rows surviving the probe are exact-joined, so the result is exact (the
    filter only prunes; FPs are removed by the join itself).

    Only join types that drop unmatched LEFT rows anyway are accepted
    (inner / left-semi / right-outer): pruning the left side of a
    left/full-outer join would lose rows that should be null-extended, and
    pruning before a left-anti join would invert it (only Bloom FALSE
    POSITIVES would survive). Those are rejected, not silently wrong."""
    normalized = how.lower().replace("_", "")
    if normalized not in ("inner", "semi", "leftsemi", "right", "rightouter"):
        raise SketchConfigError(
            f"bloom_prune_join: how={how!r} is unsound with a left-side Bloom "
            "pre-filter (unmatched left rows are dropped before the join); "
            "use inner/left_semi/right, or join without pruning")
    pruned = with_bloom_membership(left, right_blob, left_key, "_bf_member")
    pruned = pruned.filter("_bf_member").drop("_bf_member")
    if right_key is None:
        right_key = left_key
    return pruned.join(right, pruned[left_key] == right[right_key], how)
