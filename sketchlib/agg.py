"""Distributed sketch aggregation — the Spark-native partial/final pipeline.

This is the structural heart of the graft (SURVEY.md §3.2): the reference
builds thread-private filters and OR-merges them (bloomfilter-bsd benchmark
harness, A18 [path-level, unverified]); we build *partition*-private sketches
inside ``mapInArrow`` (one Python worker per partition, whole Arrow batches,
no per-row Python) and merge them with a B-ary ``applyInArrow`` tree —
manually mirroring Spark's own partial→final hash-aggregation physical plan,
because PySpark exposes no Python UDAF (SURVEY.md §3.3). One fold,
``_merge_blob_rows``, serves both the in-task pre-merge and every tree
level, Arrow in and Arrow out (blobs never round-trip through pandas).

Scale notes (the 100 TB story):
- the only shuffles are the optional salted repartition and the merge tree;
  partials are tiny (KB–MB blobs), so the merge shuffle moves ~P blobs, not
  data;
- merge is a B-ary tree whose shape one function decides
  (``merge_partials`` via ``_tree_shape``): B is sized from the largest
  partial blob so one merge task holds <= 256 MiB (KB blobs merge thousands
  of partials in one level, 128 MiB Bloom filters get B = 4), and the depth
  covers the partial count; each level is a groupBy over (sketch, group,
  bucket) — no skew possible since bucket ids are uniform by construction;
- token-frequency skew (Zipf corpora) cannot skew the *build* because
  partials are per-partition regardless of key values; salting
  (``salt_repartition``) equalizes *partition sizes* when upstream layout is
  skewed (e.g. one giant file).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from sketchlib import _worker, arrowutil, blob as blobmod, bloom, cms, cuckoo, hll, kll, minhash, tdigest
from sketchlib.config import (
    BloomConfig, CMSConfig, HLLConfig, KLLConfig, MinHashConfig, SketchConfigError, TDigestConfig, _Cfg,
)
from sketchlib.cuckoo import CuckooConfig

MODULES = {
    "bloom": bloom,
    "hll": hll,
    "cms": cms,
    "kll": kll,
    "tdigest": tdigest,
    "minhash": minhash,
    "cuckoo": cuckoo,
}

_CFG_TO_SKETCH = {
    BloomConfig: "bloom",
    HLLConfig: "hll",
    CMSConfig: "cms",
    KLLConfig: "kll",
    TDigestConfig: "tdigest",
    MinHashConfig: "minhash",
    CuckooConfig: "cuckoo",
}


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: ``name`` labels the output row; ``col`` is the
    input column (``array<int>`` list columns are flattened, numeric scalar
    columns used as-is)."""

    name: str
    cfg: _Cfg
    col: str

    @property
    def sketch(self) -> str:
        return _CFG_TO_SKETCH[type(self.cfg)]

    @property
    def payload_bytes(self) -> int:
        """Upper-bound payload size of one partial blob (merge-tree sizing)."""
        cfg = self.cfg
        if isinstance(cfg, BloomConfig):
            return cfg.m_bits // 8
        if isinstance(cfg, HLLConfig):
            return cfg.m
        if isinstance(cfg, CMSConfig):
            return cfg.depth * cfg.width * (cfg.counter_bits // 8)
        if isinstance(cfg, CuckooConfig):
            return cfg.capacity * 2
        return 1 << 16  # KLL/tdigest/minhash


# the one partial-row schema: build output, pre-merge and every merge-tree
# level emit it (topk's fused pass prepends its candidate columns)
PARTIAL_SCHEMA = pa.schema([
    ("sketch", pa.string()), ("group", pa.string()), ("part", pa.int32()),
    ("blob", pa.binary()), ("rows", pa.int64()), ("items", pa.int64()),
    ("t_ms", pa.float64()),
])

_GLOBAL = ""  # group label when group_by is None
# label for NULL group values (SQL groupBy keeps a null group; the kernel
# factorizes labels as strings, and np.unique on an object array mixing str
# and None raises). The NUL prefix keeps it out of any realistic user label
# space.
NULL_GROUP = "\x00__null__"


def salt_repartition(df: DataFrame, num_partitions: int, keys: list[str], salt: int = 0) -> DataFrame:
    """Spread rows uniformly over ``num_partitions`` by hashing keys + salt —
    the explicit skew-handling mandated by the north rule. Hash-based (not
    round-robin) so layout is deterministic given (input, salt)."""
    cols = [F.col(c) for c in keys] + [F.lit(salt)]
    return df.repartition(num_partitions, F.xxhash64(*cols))


def _build_partials_fn(specs: list[SketchSpec], group_by: str | None, part_col: str | None = None):
    """``part_col``: if given, the logical partition id is read from that
    column (deterministic, data-derived — the checkpoint/resume path keys
    lineage on it); otherwise the physical Spark partition id is used."""
    for s in specs:
        if isinstance(s.cfg, CMSConfig) and getattr(s.cfg, "conservative", False):
            raise SketchConfigError(
                f"spec '{s.name}': conservative-update CMS is not mergeable — "
                "the distributed build produces per-partition partials whose "
                "addition forfeits CU's tightness; use cms.build_blob in one "
                "pass for the query path, or the default plain-update config"
            )
    spec_list = [(s.name, s.sketch, s.cfg.to_json(), s.col) for s in specs]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        from pyspark import TaskContext

        part_id = TaskContext.get().partitionId() if TaskContext.get() else -1
        t0 = time.perf_counter()
        _dedup_off: dict[str, bool] = {}
        # state[(spec_name, group, pid)] -> (module, cfg, state_obj, rows, items)
        state: dict[tuple[str, str, int], list] = {}
        specs_rt = [
            (name, MODULES[sk], _Cfg.from_json(cj), col) for name, sk, cj, col in spec_list
        ]

        mem_used = [0]

        def _builder_mem(cfg) -> int:
            # rough per-builder working set (SURVEY.md §7 hard part e):
            # Bloom = bool scratch (m bits -> m bytes); HLL = 2^p; CMS = d*w*8
            if isinstance(cfg, BloomConfig):
                return cfg.m_bits if cfg.m_bits <= (1 << 28) else cfg.n_bytes
            if isinstance(cfg, HLLConfig):
                # builders start sparse and densify only at m/8 distinct
                # registers, so the typical grouped builder stays KBs; charge
                # the sparse cap rather than the dense worst case
                return max(cfg.m // 8, 1 << 12)
            if isinstance(cfg, CMSConfig):
                return cfg.depth * cfg.width * (cfg.counter_bits // 8)
            if isinstance(cfg, CuckooConfig):
                return cfg.capacity * 2  # uint16 tag table
            if isinstance(cfg, (KLLConfig, TDigestConfig)):
                # fixed-quanta ingest (round 4 byte-parity protocol) holds up
                # to INGEST_QUANTUM float64 pending plus level/centroid state
                # — ~0.75 MB per builder, ~8x the old 64 KB charge, so the
                # 4 GiB guard trips BEFORE a many-group build OOMs
                quantum = kll.INGEST_QUANTUM if isinstance(cfg, KLLConfig) \
                    else tdigest.INGEST_QUANTUM
                return quantum * 8 + (1 << 18)
            return 1 << 16  # minhash: KBs

        def _get(name, module, cfg, group, pid):
            key = (name, group, pid)
            st = state.get(key)
            if st is None:
                mem_used[0] += _builder_mem(cfg)
                if mem_used[0] > (4 << 30):
                    raise SketchConfigError(
                        "per-partition sketch state would exceed 4 GiB "
                        f"({len(state)} group-sketch builders so far) — cap the "
                        "group count, shrink m_bits, or build groups in passes"
                    )
                st = state[key] = [module, cfg, module.new_builder(cfg), 0, 0]
            return st

        def _update(st, values):
            st[2].update(values)
            st[4] += int(values.size)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            n = batch.num_rows
            # factorize rows to dense segment ids 0..S-1 over (group, part) —
            # ONE pass per batch, shared by every column (the old per-segment
            # arr.take + per-segment dedup made a G-group batch cost ~G times
            # a global build; with the shared sort below it costs ~1x)
            if group_by is None and part_col is None:
                seg_of_row = None
                seg_labels = [(_GLOBAL, part_id)]
            else:
                if group_by is not None:
                    garr = batch.column(group_by)
                    if garr.null_count and (
                        pa.types.is_string(garr.type)
                        or pa.types.is_large_string(garr.type)
                    ):
                        # SQL keeps a NULL group; without this fill the
                        # object array mixes str and None and np.unique
                        # raises TypeError on comparison
                        garr = pc.fill_null(garr, NULL_GROUP)
                        gcol = garr.to_numpy(zero_copy_only=False).astype(object)
                    elif garr.null_count:
                        # non-string group with nulls: to_numpy coerces ints
                        # to float64 (so the SAME group would label "1.0"
                        # here but "1" in a null-free batch) and np.unique
                        # cannot sort None/NaN-mixed object arrays (NaN
                        # poisons the sort — every row becomes its own
                        # segment). Normalize per row to the final string
                        # labels instead; this Python loop runs only for
                        # batches that actually contain a null in a
                        # non-string group column.
                        gcol = np.array(
                            [NULL_GROUP if v is None else str(v)
                             for v in garr.to_pylist()],
                            dtype=object)
                    else:
                        gcol = garr.to_numpy(zero_copy_only=False).astype(object)
                    guniq, ginv = np.unique(gcol, return_inverse=True)
                else:
                    guniq, ginv = np.array([_GLOBAL], dtype=object), np.zeros(n, np.int64)
                if part_col is not None:
                    parr = batch.column(part_col)
                    if parr.null_count:
                        # part_col is library-controlled lineage (file index /
                        # partition id); a null would silently become garbage
                        # through the NaN->int64 cast below
                        raise SketchConfigError(
                            f"part_col '{part_col}' contains nulls")
                    pcol = parr.to_numpy(zero_copy_only=False).astype(np.int64)
                    puniq, pinv = np.unique(pcol, return_inverse=True)
                else:
                    puniq, pinv = np.array([part_id], dtype=np.int64), np.zeros(n, np.int64)
                key = ginv.astype(np.int64) * puniq.size + pinv
                suniq, seg_of_row = np.unique(key, return_inverse=True)
                seg_labels = [
                    (str(guniq[s // puniq.size]), int(puniq[s % puniq.size])) for s in suniq
                ]
                if len(seg_labels) == 1:
                    seg_of_row = None
            S = len(seg_labels)
            rows_per_seg = (
                np.bincount(seg_of_row, minlength=S) if seg_of_row is not None
                else np.array([n], dtype=np.int64)
            )
            # one flatten per column; dedup is ONE shared packed sort per
            # (column, batch) regardless of segment count — every spec that is
            # idempotent/weighted in the value consumes the same uniq/counts.
            # On Zipf token streams this collapses per-token work to
            # per-distinct work.
            by_col: dict[str, list] = {}
            for spec in specs_rt:
                by_col.setdefault(spec[3], []).append(spec)
            for col, col_specs in by_col.items():
                arr = batch.column(col)
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks()
                is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
                if is_list:
                    values, starts = arrowutil.list_to_flat(arr)
                    seg_len = np.diff(np.r_[starts, values.size])
                    row_keep = None
                else:
                    # column_values drops nulls; keep row<->value alignment
                    # for the segmented path by dropping the same rows
                    row_keep = (
                        ~arr.is_null().to_numpy(zero_copy_only=False)
                        if arr.null_count else None
                    )
                    values = arrowutil.column_values(arr)
                    seg_len = None

                # ensure builders exist for every (spec, segment) — also the
                # point where the group-memory guardrail triggers
                builders = [
                    [_get(nm, m, c, gval, pid) for gval, pid in seg_labels]
                    for nm, m, c, _ in col_specs
                ]
                want_unique = (
                    values.dtype.kind in "iu"
                    and not _dedup_off.get(col, False)
                    and any(
                        getattr(sts[0][2], "supports_unique", False) for sts in builders
                    )
                )

                if seg_of_row is None:
                    seg_ptr = np.array([0, values.size], dtype=np.int64)
                    sv = values
                    u_all = cnt_all = u_ptr = None
                    if want_unique and values.size:
                        vmax, vmin = int(values.max()), int(values.min())
                        if 0 <= vmin and vmax < (1 << 22):
                            # bounded domain (token ids <= vocab): O(n) histogram
                            # beats the O(n log n) sort, stays cache-resident
                            # (np.bincount refuses uint64 — cast is exact here)
                            hist = np.bincount(
                                values.astype(np.int64)
                                if values.dtype == np.uint64 else values,
                                minlength=0)
                            u_all = np.flatnonzero(hist)
                            cnt_all = hist[u_all]
                            u_all = u_all.astype(values.dtype, copy=False)
                        else:
                            u_all, cnt_all = np.unique(values, return_counts=True)
                        u_ptr = np.array([0, u_all.size], dtype=np.int64)
                else:
                    if is_list:
                        val_seg = np.repeat(seg_of_row, seg_len)
                    elif row_keep is not None:
                        val_seg = seg_of_row[row_keep]
                    else:
                        val_seg = seg_of_row
                    vals_per_seg = np.bincount(val_seg, minlength=S).astype(np.int64)
                    u_all = cnt_all = u_ptr = None
                    if want_unique and values.size:
                        vmax, vmin = int(values.max()), int(values.min())
                        if 0 <= vmin and S * (vmax + 1) <= (1 << 24):
                            # bounded domain: ONE histogram over the packed
                            # (segment, value) key — O(n + S*vocab) and no
                            # per-segment vocab-sized allocations
                            dom = vmax + 1
                            # int64 * uint64 would promote to float64 and
                            # np.bincount rejects it — cast is exact (bounded)
                            v64 = (values.astype(np.int64)
                                   if values.dtype == np.uint64 else values)
                            hist = np.bincount(val_seg * dom + v64, minlength=S * dom)
                            nz = np.flatnonzero(hist)
                            u_all = (nz % dom).astype(values.dtype)
                            u_seg = nz // dom
                            cnt_all = hist[nz]
                        elif 0 <= vmin and vmax < (1 << 32):
                            # ONE sort of packed (segment << 32 | value)
                            packed = np.sort(
                                (val_seg.astype(np.uint64) << np.uint64(32))
                                | values.astype(np.uint64)
                            )
                            bnd = np.flatnonzero(np.r_[True, packed[1:] != packed[:-1]])
                            u_all = (packed[bnd] & np.uint64(0xFFFFFFFF)).astype(values.dtype)
                            u_seg = (packed[bnd] >> np.uint64(32)).astype(np.int64)
                            cnt_all = np.diff(np.r_[bnd, values.size])
                        else:
                            order2 = np.lexsort((values, val_seg))
                            v2, s2 = values[order2], val_seg[order2]
                            bnd = np.flatnonzero(
                                np.r_[True, (v2[1:] != v2[:-1]) | (s2[1:] != s2[:-1])]
                            )
                            u_all, u_seg = v2[bnd], s2[bnd]
                            cnt_all = np.diff(np.r_[bnd, values.size])
                        u_ptr = np.searchsorted(u_seg, np.arange(S + 1))
                    # per-segment value slices (original order within segment)
                    # are only materialized if some builder actually consumes
                    # raw values — all-idempotent/weighted spec sets (e.g. a
                    # grouped HLL build) skip the stable sort entirely
                    need_values = u_ptr is None or any(
                        not getattr(sts[0][2], "supports_unique", False) for sts in builders
                    )
                    if need_values:
                        order = np.argsort(val_seg, kind="stable")
                        sv = values[order]
                    else:
                        sv = None
                    seg_ptr = np.r_[0, np.cumsum(vals_per_seg)].astype(np.int64)
                if want_unique and values.size and u_all is not None:
                    if u_all.size > 0.5 * values.size:
                        _dedup_off[col] = True  # low duplication: not worth it

                for (name, module, cfg, _), sts in zip(col_specs, builders):
                    for s, st in enumerate(sts):
                        lo, hi = seg_ptr[s], seg_ptr[s + 1]
                        if u_ptr is not None and getattr(st[2], "supports_unique", False):
                            ul, uh = u_ptr[s], u_ptr[s + 1]
                            st[2].update_unique(u_all[ul:uh], cnt_all[ul:uh])
                            st[4] += int(hi - lo)
                        else:
                            _update(st, sv[lo:hi])
                        st[3] += int(rows_per_seg[s])

        t_ms = (time.perf_counter() - t0) * 1000.0
        out = {k: [] for k in PARTIAL_SCHEMA.names}
        for (name, group, pid), (module, cfg, obj, rows, items) in sorted(state.items()):
            payload = obj.to_payload()
            sketch_kind = _CFG_TO_SKETCH[type(cfg)]
            out["sketch"].append(name)
            out["group"].append(group)
            out["part"].append(pid)
            out["blob"].append(blobmod.pack(sketch_kind, cfg, payload))
            out["rows"].append(rows)
            out["items"].append(items)
            out["t_ms"].append(t_ms)
        if out["sketch"]:
            yield pa.RecordBatch.from_pydict(out, schema=PARTIAL_SCHEMA)

    return fn


def build_partials(
    df: DataFrame,
    specs: list[SketchSpec],
    group_by: str | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    salt_keys: list[str] | None = None,
    part_col: str | None = None,
) -> DataFrame:
    """Per-partition partial sketches. Column-prunes to exactly the needed
    columns (so the parquet scan reads only them), optionally salt-repartitions
    for skewed upstream layouts. With ``part_col``, partials are keyed by that
    deterministic logical partition id instead of the physical Spark partition
    (the checkpoint/resume path)."""
    if not specs:
        raise SketchConfigError("no sketch specs given")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise SketchConfigError("duplicate spec names")
    cols = sorted(
        {s.col for s in specs}
        | ({group_by} if group_by else set())
        | ({part_col} if part_col else set())
    )
    pruned = df.select(*cols)
    if num_partitions:
        if part_col:
            pruned = pruned.repartition(num_partitions, F.col(part_col))
        elif salt_keys:
            pruned = salt_repartition(pruned, num_partitions, salt_keys, salt)
        else:
            pruned = pruned.repartition(num_partitions)
    return pruned.mapInArrow(_build_partials_fn(specs, group_by, part_col),
                             from_arrow_schema(PARTIAL_SCHEMA))


def list_data_files(spark, path: str, suffix: str = ".parquet") -> list[str]:
    """Recursive data-file listing. Local paths walk the filesystem directly
    (the py4j Hadoop iterator costs 3+ JVM round-trips PER FILE — measured
    0.6-1.0 s for a 101-file corpus, charged to every build invocation);
    remote schemes (hdfs:/, s3a:/) keep the Hadoop FileSystem API — the same
    mechanism the scan itself would use. For Iceberg tables at 100 TB the
    equivalent listing comes from the metadata tables
    (``spark.read.format("iceberg").load("db.tbl.files")``) instead of a
    directory walk; the sandbox has no Iceberg jar, so the seam is this
    function."""
    local = None
    if path.startswith("file:"):
        local = path[5:]
        while local.startswith("//"):
            local = local[1:]
    elif "://" not in path:
        local = path
    if local is not None:
        import os as _os

        # a plain-file path (single-file table, e.g. lineitem.parquet) lists
        # as itself — os.walk would silently return nothing for it, and the
        # Hadoop listFiles branch below handles files fine
        if _os.path.isfile(local):
            return ["file:" + _os.path.abspath(local)] if local.endswith(suffix) else []
        out = []
        for root, _dirs, names in _os.walk(local):
            for name in names:
                if name.endswith(suffix):
                    # "file:" + abspath is exactly what the Hadoop walk's
                    # getPath().toString() emitted for local files — byte-
                    # identical listings keep pinned checkpoint lineage
                    # (job.FileJobSpec) valid across this fast path
                    out.append("file:" + _os.path.abspath(_os.path.join(root, name)))
        return sorted(out)
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        name = it.next().getPath().toString()
        if name.endswith(suffix):
            out.append(name)
    return sorted(out)


_FILE_PART = "_file_part"
# rows per pyarrow decode batch in the file scan
_SCAN_BATCH_ROWS = 1 << 16


# a python-exec task has a fixed cost even when the worker does nothing:
# warm, a trivial 4-task mapInArrow job takes ~0.16 s wall on a 4-core host,
# with ~60 ms of JVM task time per task, spent mostly waiting on the
# worker's socket, and ~35 ms of worker CPU outside the function (~0.26 s
# and ~145 ms per task while Spark's zip import finders were re-read every
# task, see _worker.py) — so the scan stage wants AT MOST one wave of
# tasks, and the task list must not itself be shipped through a
# python-backed createDataFrame stage (another stage and a shuffle).
_MAX_CLOSURE_PATH_BYTES = 64 << 20


def _merge_blob_rows(tbl: pa.Table) -> pa.Table:
    """Fold the partial rows of ONE (sketch, group) into one partial row.
    The only merge fold: the in-task pre-merge and every merge-tree level
    call it, so the two cannot diverge. It hands the blobs, in part-id order
    (stable sort), to the sketch's one n-ary ``merge_many_blobs``; extra
    input columns (the tree's ``bucket``) are ignored."""
    _worker.drop_spark_zip_finders()
    # sort indices, not Table.sort_by (sorting the table copies every blob),
    # and each blob read as a zero-copy Arrow buffer, not a bytes copy
    order = pc.sort_indices(tbl.column("part")).to_numpy()
    col = tbl.column("blob")
    blobs = [col[i].as_buffer() for i in order]
    merged = MODULES[blobmod.unpack(blobs[0])[0]].merge_many_blobs(blobs)
    return pa.table({
        "sketch": [tbl.column("sketch")[0].as_py()],
        "group": [tbl.column("group")[0].as_py()],
        "part": [pc.min(tbl.column("part")).as_py()],
        "blob": [merged],
        "rows": [pc.sum(tbl.column("rows")).as_py()],
        "items": [pc.sum(tbl.column("items")).as_py()],
        "t_ms": [pc.sum(tbl.column("t_ms")).as_py()],
    }, schema=PARTIAL_SCHEMA)


def _scan_tasks(spark, n_files: int) -> int:
    """Tasks of the file-scan stage: one wave, never more than the files."""
    return max(1, min(n_files, int(spark.sparkContext.defaultParallelism)))


def build_partials_files_indexed(
    spark,
    pairs: list[tuple[int, str]],
    specs: list[SketchSpec],
    group_by: str | None = None,
    local_merge: bool = False,
) -> DataFrame:
    """Arrow-native scan fast path for the build job, over explicit
    ``(file_index, file_path)`` pairs: Spark distributes the parquet FILES;
    each task decodes its files columnar with pyarrow inside ``mapInArrow``
    and feeds the same partial-builder kernel.

    Why: Spark's ``mapInArrow`` input crosses parquet -> InternalRow ->
    Arrow; measured on the bench corpus that JVM row path costs ~19 s on 32
    cores where pyarrow's native columnar decode of the SAME files costs
    1.4 s on ONE core (~100x per-core). The build job needs no Catalyst
    predicate work (full-scan + column prune, done explicitly here via
    ``columns=``), so handing the scan to pyarrow keeps the plan semantics
    and removes the row detour. Partials are keyed by FILE INDEX, so
    lineage is data-derived and stable under cluster resizing — strictly
    better for checkpoint/resume than physical partition ids. This is also
    the resume seam: a checkpointed job re-runs only the missing file
    indices while keeping their original lineage ids.

    The DataFrame path (``build_partials``) stays the canonical oracle-
    checked route. Final blobs match it byte for byte for the monoid
    sketches (Bloom, HLL, CMS, MinHash: their merge is partition-layout-
    invariant by T4), but KLL and t-digest interior merges compact, so their
    bytes match only when both engines fold the same partial layout (one
    Spark partition per file and no more files than cores, as in
    ``test_arrow_scan_fast_path_parity``). 8 files at local[4] give a
    4,881-byte global KLL blob here against 9,673 from the DataFrame path;
    see ROADMAP "Canonical merge topology over one file source".

    ``local_merge=True`` (the non-resume build path) folds each task's
    per-file partials into one row per (sketch, group) before they leave the
    task; it shrinks the merge-stage shuffle from one blob per FILE to one
    per TASK. That is byte-safe for the monoid sketches, whose merge tree is
    shape-invariant (pinned for HLL by
    ``test_merge_tree_multilevel_equivalence``); KLL and t-digest compact at
    each fold, so their bytes change with the task chunking once files
    outnumber cores (ROADMAP "Canonical merge topology over one file
    source"). Resume keeps per-file rows (its lineage is the file index)."""
    if not specs:
        raise SketchConfigError("no sketch specs given")
    cols = sorted({s.col for s in specs} | ({group_by} if group_by else set()))
    inner = _build_partials_fn(specs, group_by, part_col=_FILE_PART)

    def _scan_pairs(task_pairs) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        def _open(fpath: str):
            """Hadoop URI -> something pq.ParquetFile accepts: local paths
            directly; remote schemes via the matching pyarrow filesystem
            (s3a is Hadoop's name for what pyarrow calls s3)."""
            if fpath.startswith("file:"):
                local = fpath[5:]
                while local.startswith("//"):
                    local = local[1:]
                return local
            if "://" in fpath:
                from pyarrow import fs as pafs

                uri = fpath.replace("s3a://", "s3://", 1)
                fsys, rel = pafs.FileSystem.from_uri(uri)
                return fsys.open_input_file(rel)
            return fpath

        for fidx, fpath in task_pairs:
            pf = pq.ParquetFile(_open(fpath))
            # use_threads=False: Spark already runs one task per
            # core; the default lets EVERY worker process spin
            # pyarrow's full cpu_count() decode pool (32 threads x
            # 32 tasks on the bench box) — measured slower even
            # solo, and oversubscription thrash on the wide legs
            for rb in pf.iter_batches(columns=cols, batch_size=_SCAN_BATCH_ROWS,
                                      use_threads=False):
                yield rb.append_column(
                    _FILE_PART,
                    pa.array(np.full(rb.num_rows, fidx, dtype=np.int64)))

    def _postprocess(partial_batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if not local_merge:
            yield from partial_batches
            return
        tbl = pa.Table.from_batches(list(partial_batches), schema=PARTIAL_SCHEMA)
        # rows arrive sorted by (sketch, group, part): fold each key's run
        keys = list(zip(tbl.column("sketch").to_pylist(), tbl.column("group").to_pylist()))
        starts = [i for i in range(len(keys)) if i == 0 or keys[i] != keys[i - 1]]
        for lo, hi in zip(starts, starts[1:] + [len(keys)]):
            yield from _merge_blob_rows(tbl.slice(lo, hi - lo)).to_batches()

    sorted_pairs = sorted((int(i), f) for i, f in pairs)
    n_tasks = _scan_tasks(spark, len(sorted_pairs))
    path_bytes = sum(len(f) for _, f in sorted_pairs)
    if path_bytes <= _MAX_CLOSURE_PATH_BYTES:
        # ship the (small) file list inside the task closure and drive the
        # scan with a JVM-only range source: no python paths-stage, no
        # shuffle, exactly one balanced wave of contiguous file chunks
        bounds = [round(j * len(sorted_pairs) / n_tasks) for j in range(n_tasks + 1)]
        chunks = [sorted_pairs[bounds[j]:bounds[j + 1]] for j in range(n_tasks)]

        def scan_fn(id_batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            def gen() -> Iterator[pa.RecordBatch]:
                for pb in id_batches:
                    for tid in pb.column("id").to_pylist():
                        yield from _scan_pairs(chunks[tid])
            yield from _postprocess(inner(gen()))

        driver = spark.range(n_tasks, numPartitions=n_tasks)
    else:
        # millions of files: distribute the paths as data instead of closure
        def scan_fn(path_batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            def gen() -> Iterator[pa.RecordBatch]:
                for pb in path_batches:
                    yield from _scan_pairs(
                        zip(pb.column("idx").to_pylist(), pb.column("path").to_pylist()))
            yield from _postprocess(inner(gen()))

        driver = spark.createDataFrame(
            sorted_pairs, "idx long, path string").repartition(n_tasks, "idx")
    return driver.mapInArrow(scan_fn, from_arrow_schema(PARTIAL_SCHEMA))


def build_sketches_files(
    spark,
    path: str | list[str],
    specs: list[SketchSpec],
    group_by: str | None = None,
) -> DataFrame:
    """End-to-end fast-path build: pyarrow file scan -> partials -> tree
    merge. Same output contract as ``build_sketches``. Lists the input
    exactly once (a second recursive walk could disagree with the first on
    object stores with concurrent writers); an empty listing raises
    ``SketchConfigError`` before any Spark job."""
    files = list_data_files(spark, path) if isinstance(path, str) else sorted(path)
    if not files:
        raise SketchConfigError(f"no parquet data files under {path}")
    partials = build_partials_files_indexed(
        spark, list(enumerate(files)), specs, group_by, local_merge=True)
    # local_merge leaves at most one partial per (task, sketch, group); size
    # the tree for that count, not the file count (the tree shape leaves the
    # monoid sketches' bytes unchanged, not KLL's or t-digest's)
    return merge_partials(partials, _scan_tasks(spark, len(files)),
                          max(s.payload_bytes for s in specs))


def _tree_shape(n_parts: int, blob_bytes: int) -> tuple[int, int]:
    """``(fanout, levels)`` of the merge tree over ``n_parts`` partials of up
    to ``blob_bytes`` each: one merge task holds <= 256 MiB of blobs
    (fanout clamped to [4, 4096]), so KB sketches merge thousands of partials
    in ONE level (measured: a 2-level merge of 500 KB-blob rows costs ~6 s of
    scheduler/worker round-trips at local[32]) while 128 MB Bloom filters get
    a real tree; ``levels`` is the least with fanout**levels >= n_parts."""
    fanout = int(max(4, min(4096, (256 << 20) // max(blob_bytes, 1))))
    levels = 1
    while fanout**levels < max(n_parts, 1):
        levels += 1
    return fanout, levels


def merge_partials(partials: DataFrame, n_parts: int, blob_bytes: int) -> DataFrame:
    """Tree-merge partial rows into one row per (sketch, group) over
    ``n_parts`` partials of up to ``blob_bytes``. The one owner of the tree's
    shape: KLL and t-digest interior merges compact, so their bytes depend on
    it (a resume must merge like an uninterrupted run). Each level shuffles
    only blob rows."""
    fanout, levels = _tree_shape(n_parts, blob_bytes)
    schema = from_arrow_schema(PARTIAL_SCHEMA)
    df = partials
    for lvl in range(levels - 1):
        bucketed = df.withColumn("bucket", F.pmod(F.col("part"), F.lit(fanout ** (levels - 1 - lvl))))
        df = bucketed.groupBy("sketch", "group", "bucket").applyInArrow(_merge_blob_rows, schema)
    return df.groupBy("sketch", "group").applyInArrow(_merge_blob_rows, schema)


def build_sketches(
    df: DataFrame,
    specs: list[SketchSpec],
    group_by: str | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    salt_keys: list[str] | None = None,
) -> DataFrame:
    """End-to-end: partials → tree merge → one row per (sketch, group)."""
    partials = build_partials(df, specs, group_by, num_partitions, salt, salt_keys)
    return merge_partials(partials, num_partitions or df.rdd.getNumPartitions(),
                          max(s.payload_bytes for s in specs))


def collect_blobs(final: DataFrame) -> dict[tuple[str, str], bytes]:
    """{(spec_name, group): blob} — final blobs are KB–MB, safe to collect."""
    return {(r["sketch"], r["group"]): bytes(r["blob"]) for r in final.collect()}
