"""Per-layer measurements for traced runs, taken from outside the library:

1. spans: each public call of an operation is timed by ``Tracer.call`` and
   its Spark jobs are labelled with ``setJobDescription``;
2. Spark's status store (populated with the UI off) gives, per labelled
   job, its stages with their wall times, tasks, executor CPU, GC and
   shuffle bytes;
3. single-core driver timings of the kernel functions on the workload's
   own generated batch (``kernel_timings``).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from sketchlib import arrowutil, blob as blobmod, bloom, cms, hll, kll, minhash, tdigest
from sketchlib.config import CMSConfig, HLLConfig, KLLConfig, MinHashConfig, TDigestConfig
from sketchlib.hashing import splitmix64


class Tracer:
    """Untraced: a pass-through. Traced: records one span per call and
    labels the call's Spark jobs ``<op>|<layer>``."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.op = "setup"
        self.spans: list[dict] = []

    def call(self, layer: str, fn):
        if not self.enabled:
            return fn()
        label = f"{self.op}|{layer}"
        self.sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.spans.append({"op": self.op, "layer": layer, "label": label,
                               "s": time.perf_counter() - t0, "end_ms": time.time() * 1000})
            self.sc.setJobDescription(None)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class StatusStore:
    """Job and stage records of the finished jobs, keyed by job description."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        self.jobs: dict[str, list[dict]] = {}
        self.stages: dict[int, dict] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            desc = j.description()
            if not desc.isDefined():
                continue
            ids = j.stageIds()
            sids = [int(ids.apply(k)) for k in range(ids.size())]
            self.jobs.setdefault(desc.get(), []).append({"id": j.jobId(), "stages": sids})
            for sid in sids:
                if sid not in self.stages:
                    s = store.lastStageAttempt(sid)
                    self.stages[sid] = {
                        "status": s.status().toString(),
                        "tasks": s.numTasks(),
                        "submit_ms": _opt_ms(s.submissionTime()),
                        "done_ms": _opt_ms(s.completionTime()),
                        "run_s": s.executorRunTime() / 1e3,
                        "cpu_s": s.executorCpuTime() / 1e9,
                        "gc_s": s.jvmGcTime() / 1e3,
                        "shuffle_mb": s.shuffleWriteBytes() / 2**20,
                    }

    def span_stats(self, label: str) -> dict:
        """Stages that ran for the jobs of one span, in stage-id order."""
        jobs = self.jobs.get(label, [])
        ran = sorted({sid for j in jobs for sid in j["stages"]
                      if self.stages[sid]["status"] == "COMPLETE"})
        st = [self.stages[s] for s in ran]
        return {"jobs": len(jobs), "stages": st}


def _ns_per(fn, n: int, reps: int = 3) -> float:
    """Best-of-``reps`` single-core ns per item of ``fn()``."""
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best * 1e9 / max(n, 1)


def kernel_timings(batch_path: str, column: str, small_cfg, big_cfg, big_blob: bytes | None,
                   partial_values: list[np.ndarray]) -> dict:
    """Driver-side kernel costs on one generated input file.

    ``column`` is ``tokens`` (a list column) or ``key`` (scalar keys);
    ``partial_values`` are the per-file value arrays whose KLL/t-digest
    partials feed the n-ary merge timings."""
    table = pq.read_table(batch_path, columns=[column])
    arr = table.column(column).combine_chunks()
    out = {}
    if column == "tokens":
        out["arrowutil.list_to_flat_ns_per_token"] = _ns_per(
            lambda: arrowutil.list_to_flat(arr), len(arr.values))
        values, starts = arrowutil.list_to_flat(arr)
    else:
        values, starts = arr.to_numpy(), None
    n = values.size
    # the partial builder feeds idempotent/weighted sketches one distinct key
    # per batch with its count; the cost is charged per input key
    uniq, cnt = np.unique(values, return_counts=True)
    for name, mod, cfg in (("bloom", bloom, small_cfg), ("hll", hll, HLLConfig(p=14)),
                           ("cms", cms, CMSConfig(eps=0.0005, delta=0.01))):
        out[f"{name}.insert_ns_per_key"] = _ns_per(
            lambda: mod.new_builder(cfg).update_unique(uniq, cnt), n)
    fvals = values.astype(np.float64)
    out["kll.insert_ns_per_value"] = _ns_per(lambda: kll.new_builder(KLLConfig(k=200)).update(fvals), n)
    out["tdigest.insert_ns_per_value"] = _ns_per(
        lambda: tdigest.new_builder(TDigestConfig(compression=100)).update(fvals), n)
    kb = [kll.build_blob(v.astype(np.float64), KLLConfig(k=200)) for v in partial_values]
    tb = [tdigest.build_blob(v.astype(np.float64), TDigestConfig(compression=100)) for v in partial_values]
    out["kll.merge_many_blobs_ms"] = _ns_per(lambda: kll.merge_many_blobs(kb), 1) / 1e6
    out["tdigest.merge_many_blobs_ms"] = _ns_per(lambda: tdigest.merge_many_blobs(tb), 1) / 1e6

    small = bloom.build_blob(values, small_cfg)
    _, _, sp = blobmod.unpack(small)
    spay = np.frombuffer(sp, dtype=np.uint8)
    out["bloom.contains_ns_per_key"] = _ns_per(lambda: bloom.contains(values, spay, small_cfg), n)

    # the 2**30-bit filter: the workload's own when it built one, else one
    # built here from this batch; probed in one default-size Arrow batch
    big = big_blob if big_blob is not None else bloom.build_blob(values, big_cfg)
    _, _, bp = blobmod.unpack(big)
    bpay = np.frombuffer(bp, dtype=np.uint8)
    probe_batch = values[:10_000]
    out["bloom.contains_large_ns_per_key"] = _ns_per(
        lambda: bloom.contains(probe_batch, bpay, big_cfg), probe_batch.size)
    out["bloom.contains_blob_large_ns_per_key"] = _ns_per(
        lambda: bloom.contains_blob(probe_batch, big), probe_batch.size)
    out["blob.unpack_large_ms"] = _ns_per(lambda: blobmod.unpack(big), 1) / 1e6
    out["bloom.merge_blobs_large_ms"] = _ns_per(lambda: bloom.merge_blobs(big, big), 1, reps=2) / 1e6
    del big, bp, bpay

    # 3-token shingles of the value stream hashed by the benchmark, segmented
    # at the batch's documents (every 300 values for scalar keys), then the
    # library's one-permutation MinHash kernel
    v = values.astype(np.int64)
    sh = splitmix64(((v[:-2] * (1 << 17) + v[1:-1]) * (1 << 17) + v[2:]).astype(np.uint64))
    seg = starts if starts is not None else np.arange(0, n, 300)
    sstarts = np.minimum(seg, sh.size - 1).astype(np.int64)
    cfg = MinHashConfig(num_perm=128)
    out["minhash.oph_ns_per_shingle"] = _ns_per(
        lambda: minhash.signatures_segmented_oph(sh, sstarts, cfg), sh.size)
    return out


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def rdd_storage_mb(spark) -> dict[int, float]:
    """Block storage (memory + disk) held by each persisted or checkpointed
    RDD, by RDD id."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(i.id()): (i.memSize() + i.diskSize()) / 2**20 for i in infos}


def span_metrics(spans: list[dict], store: StatusStore, walls: list[float], cores: int) -> dict:
    """Per-op medians of the span- and stage-derived layer metrics.

    For a build call the first stage that ran is the partial scan, later
    stages are the merge tree, and the time from the last stage's end to the
    call's return is the driver-side collect of the blobs."""
    ops = sorted({s["op"] for s in spans if s["op"] != "setup"}, key=lambda o: int(o[2:]))
    per: dict[str, list[float]] = {}

    def builds(sel: list[dict]) -> dict:
        m = {"agg.partials_files_s": 0.0, "agg.partials_df_s": 0.0, "agg.merge_s": 0.0,
             "agg.collect_blobs_s": 0.0}
        for sp in sel:
            if not sp["layer"].startswith("agg.build_"):
                continue
            st = store.span_stats(sp["label"])["stages"]
            if not st:
                continue
            first, last = st[0], st[-1]
            engine = "files" if sp["layer"].startswith("agg.build_files") else "df"
            m[f"agg.partials_{engine}_s"] += (first["done_ms"] - first["submit_ms"]) / 1e3
            m["agg.merge_s"] += (last["done_ms"] - first["done_ms"]) / 1e3
            m["agg.collect_blobs_s"] += max(0.0, sp["end_ms"] - last["done_ms"]) / 1e3
        return m

    def counts(sel: list[dict], prefix: str) -> tuple[int, int]:
        jobs = tasks = 0
        for sp in sel:
            if sp["layer"].startswith(prefix):
                st = store.span_stats(sp["label"])
                jobs += st["jobs"]
                tasks += sum(x["tasks"] for x in st["stages"])
        return jobs, tasks

    for op, wall in zip(ops, walls):
        sel = [s for s in spans if s["op"] == op]
        m = builds(sel)
        m["agg.jobs_per_op"], m["agg.tasks_per_op"] = counts(sel, "agg.")
        m["probe.call_s"] = sum(s["s"] for s in sel if s["layer"].startswith("probe.call"))
        m["probe.exec_s"] = sum(s["s"] for s in sel if s["layer"].startswith("probe.exec"))
        m["probe.jobs_per_op"] = counts(sel, "probe.")[0]
        m["textops.jobs_per_op"] = counts(sel, "textops.")[0]
        stages = [x for s in sel for x in store.span_stats(s["label"])["stages"]]
        m["spark.jobs_per_op"] = sum(store.span_stats(s["label"])["jobs"] for s in sel)
        m["spark.stages_per_op"] = len(stages)
        m["spark.tasks_per_op"] = sum(x["tasks"] for x in stages)
        m["spark.executor_cpu_s_per_op"] = sum(x["cpu_s"] for x in stages)
        m["spark.gc_s_per_op"] = sum(x["gc_s"] for x in stages)
        m["spark.shuffle_write_mb_per_op"] = sum(x["shuffle_mb"] for x in stages)
        m["spark.core_busy_frac"] = sum(x["run_s"] for x in stages) / (wall * cores)
        for k, v in m.items():
            per.setdefault(k, []).append(float(v))
    out = {k: median(v) for k, v in per.items()}
    # work done once in set-up (the 2**30-bit build) is reported per build
    setup = [s for s in spans if s["op"] == "setup" and s["layer"] == "agg.build_df:build"]
    if setup:
        for k, v in builds(setup).items():
            if v:
                out[k] = v
        out["agg.jobs_per_op"], out["agg.tasks_per_op"] = counts(
            [s for s in spans if s["op"] == "setup"], "agg.")
    return out
