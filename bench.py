#!/usr/bin/env python
"""Driver benchmark contract: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Headline = the north-rule pipeline: build all five mergeable sketches over a
deterministic tokenized corpus sized to the SF (FIXTURES.md F1; cached as
parquet under .cache so generation cost is excluded), probe the Bloom filter,
plus representative exact-side and dedup/ANN queries over the SF tables.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "bench"))
sys.path.insert(0, os.path.join(REPO, "perfbench"))
import host  # noqa: E402
import noise  # noqa: E402

# every file a run writes sits under the git-ignored .cache/: the corpus
# cache, the spin floor and the per-query noise side file
CACHE_DIR = os.path.join(REPO, ".cache")
SPIN_FLOOR_FILE = os.path.join(REPO, noise.SPIN_FLOOR)
SIDE_FILE = os.path.join(CACHE_DIR, "bench", "noise_last.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host.cores())

    # --- noise instrumentation (bench/noise.py) -------------------------------
    # Round-2 lesson, round-3 fix: the old single-thread calibration spin was
    # BLIND to partial occupancy (a tenant eating 16 of 32 cores leaves one
    # spin thread at full speed while halving the query), so BENCH_r02
    # certified a physically impossible row as clean. Every query is now
    # gated on an N-PROCESS spin (N cores simultaneously free) and its
    # measured window is wrapped in /proc/stat + process-tree attribution:
    # clean = near-zero hypervisor steal AND near-zero external busy cores
    # inside exactly the timed section; dirty windows are retried.
    t_wait = time.time()
    while time.time() - t_wait < 90 and os.getloadavg()[0] > 2.5:
        time.sleep(5)
    calib_ref = min(noise.spin_ms() for _ in range(7))
    gate_cores = min(cpus, os.cpu_count() or cpus)

    # Host-speed epoch context: this VM's per-core speed is BIMODAL even when
    # verifiably idle (hypervisor frequency/co-scheduling epochs, NEXT.md) —
    # a per-run calibration baseline cannot see that, so ratios look clean
    # while every wall-clock number runs 2x slow. Keep the best spin of the
    # last 7 days (noise.spin_observations) and (a) wait briefly for a fast
    # epoch, (b) report the factor.
    now = time.time()
    obs = noise.spin_observations(REPO)
    spin_floor = min([o[1] for o in obs] + [calib_ref])
    t_wait = time.time()
    while time.time() - t_wait < 90 and calib_ref > 1.3 * spin_floor:
        time.sleep(10)
        calib_ref = min(noise.spin_ms() for _ in range(3))
    obs.append([round(now, 1), round(calib_ref, 2)])
    spin_floor = min(spin_floor, calib_ref)
    os.makedirs(os.path.dirname(SPIN_FLOOR_FILE), exist_ok=True)
    with open(SPIN_FLOOR_FILE, "w") as fh:
        json.dump({"spin_floor_ms": round(spin_floor, 2),
                   "observations": obs[-200:]}, fh)
    host_speed_factor = round(calib_ref / spin_floor, 2)

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sketchlib-bench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # split the many-small-file corpus cache into ~one task per file so
        # waves pack evenly across cores (default 128 MB packing leaves ~1
        # task per core and a straggler tail)
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "4m")
        .config("spark.driver.memory", f"{host.heap_gb()}g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sketchlib import agg, datagen, probe
    from sketchlib.config import (
        BloomConfig, CMSConfig, HLLConfig, KLLConfig, TDigestConfig,
    )

    n_docs = max(2_000, int(2_000_000 * sf))
    corpus_path = datagen.corpus_parquet(spark, n_docs, CACHE_DIR, partitions=4 * cpus)
    corpus = spark.read.parquet(corpus_path)
    total_tokens = corpus.agg(F.sum("n_tok")).collect()[0][0]

    specs = [
        agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 21, k=8, word_bits=64,
                                            words_per_block=8, sectors=8), "tokens"),
        agg.SketchSpec("hll", HLLConfig(p=14), "tokens"),
        agg.SketchSpec("cms", CMSConfig(eps=0.0005, delta=0.01), "tokens"),
        agg.SketchSpec("kll", KLLConfig(k=200), "n_tok"),
        agg.SketchSpec("tdigest", TDigestConfig(compression=100), "n_tok"),
    ]

    queries: dict[str, float] = {}
    query_noise: dict[str, dict] = {}
    extra: dict = {}

    # global cap on gate-wait + retry overhead so a noisy/slow host cannot
    # blow the bench past the driver's time budget: once spent, queries run
    # once with no pre-wait and carry their (possibly dirty) flags honestly
    noise_budget = [240.0]

    def timed(name: str, fn, retries: int = 3):
        """Measure fn in a verifiably clean window: pre-gate on gate_cores
        simultaneously free, then attribute host CPU inside exactly the
        measured section; retry (bounded by the shared noise budget) until
        clean. Keeps the best CLEAN measurement, falling back to the fastest
        dirty one (flagged)."""
        best_clean = None
        best_any = None
        attempt = 0
        for attempt in range(retries + 1):
            t_gate = time.time()
            pre = noise.wait_n_cores_free(
                gate_cores, calib_ref, max_wait_s=min(30.0, max(noise_budget[0], 0.0)))
            noise_budget[0] -= time.time() - t_gate
            mon = noise.WindowMonitor()
            t0 = time.perf_counter()
            with mon:
                out = fn()
            dt = time.perf_counter() - t0
            clean = (
                pre < noise.clean_ratio(gate_cores) * calib_ref
                and mon.steal_pct < 4.0
                and mon.tenant_cores < 2.0
                and mon.tenant_cores_max < 4.0
            )
            meta = {
                "spin_pre": round(pre / calib_ref, 2),
                "steal_pct": round(mon.steal_pct, 1),
                "tenant_cores": round(mon.tenant_cores, 1),
                "tenant_cores_max": round(mon.tenant_cores_max, 1),
                "steal_pct_max": round(mon.steal_pct_max, 1),
                "clean": clean,
            }
            if best_any is None or dt < best_any[0]:
                best_any = (dt, out, meta)
            if clean:
                best_clean = (dt, out, meta)
                break
            if attempt > 0:  # re-runs beyond the first retry spend the budget
                noise_budget[0] -= dt
            if noise_budget[0] <= 0:
                break
        dt, out, meta = best_clean if best_clean is not None else best_any
        meta["attempts"] = attempt + 1
        queries[name] = round(dt, 3)
        query_noise[name] = meta
        return out

    # exact-side representative queries on the SF tables — run FIRST, in a
    # young session: measured round 4, the sketch block's memory churn
    # (2M-doc builds + the 82M-token array probe) costs the next JVM-side
    # aggregate ~5 s that no isolated run reproduces (q01 bench-measured
    # 6.4 s vs 1.0-1.4 s steady-state in any fresh or sketch-warmed
    # session). One untimed warm-up first: the FIRST whole-stage-codegen
    # aggregate in a session pays ~6 s of class-load/JIT (q01 cold 7.7 s)
    # which is session setup, not query cost.
    import __spark_entry__ as entrymod

    entrymod.q01_pricing_summary(spark, sf_dir).collect()
    timed("q01_pricing_summary", lambda: entrymod.q01_pricing_summary(spark, sf_dir).collect())
    timed("q15_orders_by_segment", lambda: entrymod.q15_orders_by_segment(spark, sf_dir).collect())
    timed("q_minhash_near_dups", lambda: entrymod.sk_minhash_near_dups(spark, sf_dir).count())
    timed("q_ann_cosine_topk", lambda: entrymod.sk_ann_cosine_topk(spark, sf_dir).collect())

    # untimed warm-ups for BOTH engines: JVM JIT, codegen, python worker
    # pool, page cache — so neither build row pays its own cold start (r2's
    # bloom-only row looked 8x slower than the 5-sketch row purely because
    # it ran cold in a contaminated window)
    agg.collect_blobs(agg.build_sketches_files(spark, corpus_path, specs))
    agg.collect_blobs(agg.build_sketches(corpus, specs))

    # headline: full five-sketch distributed build. Round 3: the build uses
    # the Arrow-native file-scan path (build_sketches_files) — Spark
    # distributes the parquet files, pyarrow decodes them columnar inside
    # mapInArrow. Measured ~6x less task CPU than the DataFrame scan, whose
    # parquet -> InternalRow -> Arrow detour dominated the r2 headline.
    # q_sketch_build_df keeps the DataFrame path measured for comparison.
    blobs = timed(
        "q_sketch_build_all",
        lambda: agg.collect_blobs(agg.build_sketches_files(spark, corpus_path, specs)),
    )
    extra["sketch_build_tokens_per_sec"] = round(total_tokens / queries["q_sketch_build_all"], 0)
    extra["total_tokens"] = int(total_tokens)
    extra["build_engine"] = "arrow-file-scan"

    timed(
        "q_sketch_build_df",
        lambda: agg.collect_blobs(agg.build_sketches(corpus, specs)),
    )

    # bloom-only build (the reference's benchmarked operation, A17)
    timed(
        "q_bloom_build",
        lambda: agg.collect_blobs(agg.build_sketches_files(spark, corpus_path, specs[:1])),
    )
    extra["bloom_build_tokens_per_sec"] = round(total_tokens / queries["q_bloom_build"], 0)

    # bloom probe: 5M scalar probes against the merged blob
    bloom_blob = blobs[("bloom", "")]
    probes = spark.range(5_000_000).select(
        (F.col("id") % (1 << 18)).cast("int").alias("t")
    )
    # untimed probe warm-up — same policy the build engines and q01 get:
    # the first probe of a session pays blob broadcast + Arrow-UDF python
    # worker spin-up, and it used to run straight out of the (often
    # contended) build window. Round 4 recorded probe_5m at 2.83 s vs
    # probe_20m at 0.62 s on the SAME blob — a first-probe artifact, not a
    # kernel difference. One throwaway pass absorbs it.
    probe.with_bloom_membership(probes, bloom_blob, "t").filter("member").count()
    timed(
        "q_bloom_probe_5m",
        lambda: probe.with_bloom_membership(probes, bloom_blob, "t")
        .filter("member").count(),
    )
    extra["bloom_probe_keys_per_sec"] = round(5_000_000 / queries["q_bloom_probe_5m"], 0)

    # 20M probes: amortizes the ~0.4 s fixed job overhead that dominates the
    # 5M row, so this is the sustained keys/s figure
    probes20 = spark.range(20_000_000).select(
        (F.col("id") % (1 << 18)).cast("int").alias("t")
    )
    timed(
        "q_bloom_probe_20m",
        lambda: probe.with_bloom_membership(probes20, bloom_blob, "t")
        .filter("member").count(),
    )
    extra["bloom_probe20_keys_per_sec"] = round(20_000_000 / queries["q_bloom_probe_20m"], 0)

    # array-mode probe: membership over the corpus's own array<int> tokens
    # column — the 100-TB-relevant probe shape (each row carries ~40 tokens;
    # the kernel flattens via Arrow list offsets, zero per-row Python)
    timed(
        "q_bloom_probe_array",
        lambda: probe.with_bloom_membership(
            corpus.select("tokens"), bloom_blob, "tokens", array_mode="all"
        ).filter("member").count(),
    )
    extra["bloom_probe_array_tokens_per_sec"] = round(
        total_tokens / queries["q_bloom_probe_array"], 0)

    # global vs grouped HLL: the grouped build's shared-dedup kernel should
    # keep the grouped row within ~1.5x of the global one (round-1 criterion,
    # now measured directly instead of inferred). Both legs use the same
    # engine (arrow file scan) so the ratio isolates grouping cost.
    timed(
        "q_hll_global",
        lambda: agg.collect_blobs(agg.build_sketches_files(
            spark, corpus_path, [agg.SketchSpec("hll12", HLLConfig(p=12), "tokens")]
        )),
    )
    timed(
        "q_hll_grouped",
        lambda: agg.build_sketches_files(
            spark, corpus_path,
            [agg.SketchSpec("hll_g", HLLConfig(p=12), "tokens")], group_by="source"
        ).count(),
    )

    # measured per-geometry probe costs (ns/key, min-of-reps), reported in
    # the side file beside the advisor's fitted model
    from sketchlib import advisor

    probe_ns = {}
    for label, geom, k in (
        ("reg64_k4", dict(word_bits=64, words_per_block=1, sectors=1), 4),
        ("cl512_k4", dict(word_bits=64, words_per_block=8, sectors=1), 4),
        ("cl512s8_k8", dict(word_bits=64, words_per_block=8, sectors=8), 8),
        ("cl512s8z2_k8", dict(word_bits=64, words_per_block=8, sectors=8, zones=2), 8),
    ):
        cfg = BloomConfig(m_bits=1 << 21, k=k, **geom)
        probe_ns[label] = round(advisor.measure_probe_ns(cfg, reps=3), 1)
    extra["probe_ns_per_key"] = probe_ns

    # keep the headline comparable across rounds: sum over the round-2 query
    # set (q_bloom_probe_20m and q_hll_global are new-in-round-3 rows)
    r2_set = {
        "q_sketch_build_all", "q_bloom_build", "q_bloom_probe_5m",
        "q_hll_grouped", "q01_pricing_summary", "q15_orders_by_segment",
        "q_minhash_near_dups", "q_ann_cosine_topk",
    }
    total = round(sum(v for k, v in queries.items() if k in r2_set), 3)
    extra["value_all_queries"] = round(sum(queries.values()), 3)

    # Round-3 postmortem: the headline line once embedded the full per-query
    # noise dict and outgrew the driver's stdout tail capture, so BENCH_r03
    # recorded "parsed": null. The contract is ONE compact JSON line as the
    # LAST stdout line; everything else (noise attribution, probe costs,
    # spin metadata) goes to the side file for readers.
    side = {
        "query_noise": query_noise,
        "calib_spin_ms": round(calib_ref, 2),
        "spin_floor_ms": round(spin_floor, 2),
        "host_speed_factor": host_speed_factor,
        "loadavg_at_exit": round(os.getloadavg()[0], 2),
        **extra,
    }
    os.makedirs(os.path.dirname(SIDE_FILE), exist_ok=True)
    with open(SIDE_FILE, "w") as fh:
        json.dump(side, fh, indent=1)
    spark.stop()
    # per-query clean flags travel WITH the headline (round-4 lesson: a
    # contended q_bloom_build sat unannotated in the recorded value; the
    # driver's record must be able to tell a dirty window from a
    # regression). Names only — the full noise dict stays in the sidecar so
    # the line cannot outgrow the driver's stdout tail capture again.
    dirty = sorted(k for k, m in query_noise.items() if not m.get("clean", True))
    headline = {
        "metric": "sketchlib headline (5-sketch distributed build + probe + exact/dedup/ANN)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "host_speed_factor": host_speed_factor,
        "build_tokens_per_sec": extra["sketch_build_tokens_per_sec"],
        "probe20_keys_per_sec": extra["bloom_probe20_keys_per_sec"],
        "dirty": dirty,
        "noise_detail": os.path.relpath(SIDE_FILE, REPO),
    }
    sys.stdout.flush()
    print(json.dumps(headline), flush=True)


if __name__ == "__main__":
    sys.exit(main())
