"""The three workloads. Each one generates its inputs, prepares (warm-up and
library-side preparation, counted in ``setup_s``), runs one operation at a
time through the public ``sketchlib`` API, and checks every result.

Every library call inside an operation goes through ``tr.call(layer, fn)``;
the tracer is a pass-through in untraced runs and labels the Spark jobs of
each call in traced runs (``layers.py``).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import inputs
from layers import median

from pyspark.sql import functions as F
from sketchlib import agg, probe, textops
from sketchlib.config import BloomConfig, CMSConfig, HLLConfig, KLLConfig, TDigestConfig

# build_files: ~30M tokens in 16 files of 4,500 docs. At this size every
# source's distinct token count (wiki, the smallest, ~3.9m for m = 2**14 HLL
# registers) lies above the range near 2.5m where the library's HLL estimate
# is biased; that bias is checked on the fixed HLL sets instead, on inputs
# that do not depend on the seed.
BUILD_CORPUS = dict(n_files=16, docs_per_file=4500, clusters_per_file=0)
# dedup_tokens: ~4.3M tokens in 8 files of 1,300 docs (1,250 drawn from the
# law plus 10 planted clusters of 5), taken 4 files at a time as its 2 slices
DEDUP_CORPUS = dict(n_files=8, docs_per_file=1250, clusters_per_file=10)
SLICE_FILES = 4
# seed-independent inputs of the fixed-input operation: a small corpus for
# engine identity, 16 disjoint sets of 41,000 keys (2.5m, where the HLL
# estimator switches from linear counting to the raw estimate), and the
# corpus vocabulary for the Bloom false-positive rate
FIXED_CORPUS = dict(n_files=8, docs_per_file=150, clusters_per_file=0)
HLL_SETS = dict(n_sets=16, n_keys=41_000)
# non-member ids (>= 2**17) probed against the fixed vocabulary filter
N_FIXED_NON_MEMBERS = 8_000_000
# 1M members into a 2**30-bit filter; 200k probe keys, a quarter of them members
KEYS = dict(n_members=1_000_000, n_probe_members=50_000, n_probe_non=150_000,
            n_member_files=2, n_probe_files=4)

# untimed operations in set-up: the first operations after session start are
# the slowest (JIT, Python worker start, page cache), and with one warm-up the
# first timed operation was still 10-30% slower than the later ones
WARMUP = 2

SMALL_BLOOM = BloomConfig(m_bits=1 << 21, k=8, word_bits=64, words_per_block=8, sectors=8)
BIG_BLOOM = BloomConfig(m_bits=1 << 30, k=8, word_bits=64, words_per_block=8, sectors=8)


def sketch_specs() -> list:
    """The five sketches of the build workloads (bench.py's headline set)."""
    return [
        agg.SketchSpec("bloom", SMALL_BLOOM, "tokens"),
        agg.SketchSpec("hll", HLLConfig(p=14), "tokens"),
        agg.SketchSpec("cms", CMSConfig(eps=0.0005, delta=0.01), "tokens"),
        agg.SketchSpec("kll", KLLConfig(k=200), "n_tok"),
        agg.SketchSpec("tdigest", TDigestConfig(compression=100), "n_tok"),
    ]


class Workload:
    """Why each workload exists is recorded in BENCHMARK.json and README.md.

    ``layer_pass`` gets the run's record (``walls``, ``results``,
    ``retained``, ``spans`` and ``ops``, the number of timed operations) and
    returns the layer metrics only the workload can measure.

    A run times whole rounds of ``round_ops`` operations, at least one; a
    round lasts 15-20 s on the reference host."""

    name = ""
    round_ops = 6

    def generate(self, root: str, seed: int) -> None: ...
    def prepare(self, spark, tr) -> None: ...
    def op(self, spark, tr, i: int): ...
    def items(self, i: int) -> int: ...
    def check(self, results: list) -> list[str]: ...
    def layer_pass(self, spark, run: dict) -> dict: ...
    def kernel_inputs(self) -> tuple: ...
    def kernel_ns(self, k: dict) -> float: ...

    def fixed_op(self, spark) -> list[str] | None:
        """An operation on seed-independent inputs, run once per round of
        timed operations; returns its failures, or None when the workload
        has none."""
        return None


def _group_checks(label: str, blobs: dict, group: str, counts: np.ndarray,
                  vals: np.ndarray) -> list[str]:
    """Exact-answer checks of one group's five sketches. The Bloom
    false-positive rate is checked on the fixed inputs only: on the corpus
    filters it exceeds the analytic rate by ~13%, so a check at the seeded
    filters' 200,000-probe power fails on some seeds and not on others."""
    present = np.flatnonzero(counts)
    return (checks.hll_ok(label, blobs[("hll", group)], present.size)
            + checks.cms_ok(label, blobs[("cms", group)], counts)
            + checks.kll_ok(label, blobs[("kll", group)], vals)
            + checks.tdigest_ok(label, blobs[("tdigest", group)], vals)
            + checks.bloom_no_false_negatives(label, blobs[("bloom", group)], present))


class _CorpusWorkload(Workload):
    corpus_size: dict = {}

    def generate(self, root: str, seed: int) -> None:
        self.corpus = inputs.corpus(root, seed, **self.corpus_size)
        t = self.corpus.truth
        self.counts = t["token_counts"]            # (source, token) exact counts
        self.doc_src, self.doc_file, self.n_tok = t["doc_source"], t["doc_file"], t["n_tok"]

    def kernel_inputs(self) -> tuple:
        parts = [self.n_tok[self.doc_file == f] for f in range(len(self.corpus.files))]
        return self.corpus.files[0], "tokens", None, parts


class BuildFiles(_CorpusWorkload):
    name = "build_files"
    corpus_size = BUILD_CORPUS

    def generate(self, root: str, seed: int) -> None:
        super().generate(root, seed)
        fixed = os.path.join(root, "fixed")
        self.fixed = inputs.corpus(fixed, 0, **FIXED_CORPUS)
        self.keys = inputs.fixed_keys(fixed, **HLL_SETS)

    def prepare(self, spark, tr) -> None:
        self.ref = self.op(spark, tr, -1)                 # warm-up
        for _ in range(WARMUP - 1):
            self.op(spark, tr, -1)

    def op(self, spark, tr, i: int):
        """The five sketches globally and per ``source``: one dict of blobs."""
        out = {}
        for group in (None, "source"):
            label = "global" if group is None else "grouped"
            final = tr.call(f"agg.plan_files:{label}", lambda: agg.build_sketches_files(
                spark, self.corpus.path, sketch_specs(), group_by=group))
            out.update(tr.call(f"agg.build_files:{label}", lambda: agg.collect_blobs(final)))
        return out

    def fixed_op(self, spark) -> list[str]:
        """Three checks on fixed inputs, each failing every time today:

        - the five global blobs from the file engine and from the DataFrame
          engine must be byte-identical (the KLL and t-digest blobs depend
          on the partial layout: 8 files give 8 DataFrame partials but 4
          file-engine tasks on a 4-core host);
        - the HLLs of 16 sets of 41,000 keys must meet the single-estimate
          and mean-bias bounds;
        - the 2**21-bit filter of the corpus vocabulary, probed with 8M
          non-members, must show false positives inside the binomial
          interval of the analytic rate."""
        specs = sketch_specs()
        files = agg.collect_blobs(agg.build_sketches_files(spark, self.fixed.path, specs))
        df = agg.collect_blobs(agg.build_sketches(spark.read.parquet(self.fixed.path), specs))
        bad = checks.same_blobs("fixed inputs, DataFrame vs file engine", df, files)
        ks = self.keys
        got = agg.collect_blobs(agg.build_sketches_files(spark, ks.path, [
            agg.SketchSpec("hll", HLLConfig(p=14), "key"),
            agg.SketchSpec("bloom", SMALL_BLOOM, "key")], group_by="set"))
        bad += checks.hll_sets_ok("fixed HLL sets", [got[("hll", n)] for n in ks.names], ks.n_keys)
        non = np.random.default_rng(0).integers(inputs.VOCAB, 2**31 - 1, N_FIXED_NON_MEMBERS)
        return bad + checks.bloom_fp_probe("fixed vocabulary filter", got[("bloom", inputs.VOCAB_SET)],
                                           inputs.VOCAB - 1, non)

    def items(self, i: int) -> int:
        return 2 * self.corpus.meta["n_tokens"]

    def check(self, results: list) -> list[str]:
        """Exact answers for the warm-up's blobs, byte identity for every op."""
        errs = []
        groups = {"": (self.counts.sum(0), np.ones(self.n_tok.size, bool))}
        for s, name in enumerate(inputs.SOURCES):
            groups[name] = (self.counts[s], self.doc_src == s)
        for g, (counts, docs) in groups.items():
            vals = np.sort(self.n_tok[docs]).astype(np.float64)
            errs += _group_checks(g or "global", self.ref, g, counts, vals)
        for i, r in enumerate(results):
            errs += checks.same_blobs(f"op {i} vs warm-up", r, self.ref)
        return errs

    def layer_pass(self, spark, run: dict) -> dict:
        """Listing time, and partial rows with their in-task ``t_ms`` for one
        operation's two builds (public partial builder, blob column pruned).
        Every row of a task repeats the task's ``t_ms``, so it is summed once
        per task."""
        t = time.perf_counter()
        for _ in range(3):
            files = agg.list_data_files(spark, self.corpus.path)
        out = {"agg.list_data_files_s": (time.perf_counter() - t) / 3,
               "agg.partial_rows": 0, "agg.partial_kernel_ms": 0.0}
        for group in (None, "source"):
            got = agg.build_partials_files_indexed(
                spark, list(enumerate(files)), sketch_specs(), group, local_merge=True
            ).select("part", "t_ms").collect()
            out["agg.partial_rows"] += len(got)
            out["agg.partial_kernel_ms"] += sum(t for _, t in {(r["part"], r["t_ms"]) for r in got})
        return out

    def kernel_ns(self, k: dict) -> float:
        """Kernel-only ns of one operation's two five-sketch builds."""
        per_token = (k["arrowutil.list_to_flat_ns_per_token"] + k["bloom.insert_ns_per_key"]
                     + k["hll.insert_ns_per_key"] + k["cms.insert_ns_per_key"])
        per_doc = k["kll.insert_ns_per_value"] + k["tdigest.insert_ns_per_value"]
        return 2 * (self.corpus.meta["n_tokens"] * per_token + self.corpus.meta["n_docs"] * per_doc)


class BigFilter(Workload):
    name = "big_filter"
    round_ops = 8

    def generate(self, root: str, seed: int) -> None:
        self.keys = inputs.key_sets(root, seed, **KEYS)

    def prepare(self, spark, tr) -> None:
        spec = [agg.SketchSpec("big", BIG_BLOOM, "key")]
        members = spark.read.parquet(self.keys.members_path)
        final = tr.call("agg.plan_df:build", lambda: agg.build_sketches(members, spec))
        self.blob = tr.call("agg.build_df:build", lambda: agg.collect_blobs(final))[("big", "")]
        self.probe_df = spark.read.parquet(self.keys.probe_path)
        for _ in range(WARMUP):
            self.op(spark, tr, -1)                        # warm-up

    def op(self, spark, tr, i: int):
        probed = tr.call("probe.call:keys", lambda: probe.with_bloom_membership(
            self.probe_df, self.blob, "key"))
        row = tr.call("probe.exec:keys", lambda: probed.agg(
            F.sum((F.col("member") & F.col("is_member")).cast("long")).alias("tp"),
            F.sum((F.col("member") & ~F.col("is_member")).cast("long")).alias("fp"),
        ).collect()[0])
        return int(row["tp"] or 0), int(row["fp"] or 0)

    def items(self, i: int) -> int:
        return self.keys.n_probe_members + self.keys.n_probe_non

    def check(self, results: list) -> list[str]:
        errs = []
        members = pq.read_table(self.keys.members_path).column("key").to_numpy()
        errs += checks.bloom_no_false_negatives("big filter", self.blob, members)
        for i, (tp, fp) in enumerate(results):
            errs += checks.count_ok(f"op {i} members found", tp, self.keys.n_probe_members)
            errs += checks.bloom_fp_ok(f"op {i} non-members", self.blob, self.keys.n_members,
                                       self.keys.n_probe_non, fp)
        return errs

    def layer_pass(self, spark, run: dict) -> dict:
        spec = [agg.SketchSpec("big", BIG_BLOOM, "key")]
        got = agg.build_partials(spark.read.parquet(self.keys.members_path), spec
                                 ).select("t_ms").collect()
        return {"agg.partial_rows": len(got), "agg.partial_kernel_ms": sum(r["t_ms"] for r in got)}

    def kernel_ns(self, k: dict) -> float:
        return self.items(0) * k["bloom.contains_large_ns_per_key"]

    def kernel_inputs(self) -> tuple:
        members = pq.read_table(self.keys.members_path).column("key").to_numpy()
        return (os.path.join(self.keys.members_path, sorted(os.listdir(self.keys.members_path))[0]),
                "key", self.blob, np.array_split(members, KEYS["n_member_files"]))


class DedupTokens(_CorpusWorkload):
    name = "dedup_tokens"
    corpus_size = DEDUP_CORPUS

    def prepare(self, spark, tr) -> None:
        """A 2**21-bit filter of the corpus tokens built by the DataFrame
        engine, then one warm-up operation on the whole corpus, which
        probes every corpus row (each must be a member)."""
        corpus = spark.read.parquet(self.corpus.path)
        final = tr.call("agg.plan_df:build", lambda: agg.build_sketches(
            corpus, [agg.SketchSpec("bloom", SMALL_BLOOM, "tokens")]))
        self.filter = tr.call("agg.build_df:build", lambda: agg.collect_blobs(final))[("bloom", "")]
        self.warm = self.op(spark, tr, -1)

    def _files(self, i: int) -> list[int]:
        """File indices of operation ``i``: slice ``i`` modulo the number of
        slices, or the whole corpus for the warm-up (``i < 0``)."""
        if i < 0:
            return list(range(len(self.corpus.files)))
        s = i % (len(self.corpus.files) // SLICE_FILES)
        return list(range(s * SLICE_FILES, (s + 1) * SLICE_FILES))

    def _non_members(self, tr, df) -> int:
        """Rows of ``df`` not every token of which the filter holds."""
        probed = tr.call("probe.call:tokens", lambda: probe.with_bloom_membership(
            df, self.filter, "tokens", array_mode="all"))
        return tr.call("probe.exec:tokens", lambda: probed.filter(~F.col("member")).count())

    def op(self, spark, tr, i: int):
        """Probe one slice's token arrays against the corpus filter, then
        find the slice's near-duplicate pairs."""
        files = self._files(i)
        df = spark.read.parquet(*(self.corpus.files[f] for f in files))
        missing = self._non_members(tr, df)
        pairs = tr.call("textops.plan", lambda: textops.token_near_duplicates(df))
        rows = tr.call("textops.exec", lambda: pairs.collect())
        return files, missing, {tuple(sorted((r["a"], r["b"]))): r["jaccard_est"] for r in rows}

    def items(self, i: int) -> int:
        return int(self.n_tok[np.isin(self.doc_file, self._files(i))].sum())

    def check(self, results: list) -> list[str]:
        counts = self.counts.sum(0)
        present = np.flatnonzero(counts)
        errs = checks.bloom_no_false_negatives("corpus filter", self.filter, present)
        runs = [("warm-up", self.warm)] + [(f"op {i}", r) for i, r in enumerate(results)]
        unprobed = set(range(len(self.corpus.files))).difference(*(r[0] for _, r in runs))
        if unprobed:
            errs.append(f"corpus files {sorted(unprobed)} never probed")
        for label, (files, missing, reported) in runs:
            errs += checks.count_ok(f"{label} rows not members", missing, 0)
            t = pq.read_table([self.corpus.files[f] for f in files], columns=["doc_id", "tokens"])
            row = {d: r for r, d in enumerate(t.column("doc_id").to_pylist())}
            tokens = t.column("tokens").combine_chunks()
            flat, offs = tokens.values.to_numpy(), tokens.offsets.to_numpy()

            def doc(d):
                return flat[offs[row[d]]:offs[row[d] + 1]]

            planted = [(a, b, j) for (pf, a, b, j) in self.corpus.truth["pairs"] if pf in files]
            errs += checks.pairs_ok(label, reported, planted,
                                    lambda a, b: inputs.jaccard(doc(a), doc(b)))
        return errs

    def layer_pass(self, spark, run: dict) -> dict:
        """The near-duplicate pipeline's stages as separate public calls on the
        last operation's slice. Inputs under 32 MB take the library's
        ``localCheckpoint`` branch, mirrored here; verify is the rest of the
        near-duplicate call's median wall time."""
        near_dup_s: dict[str, float] = {}
        for sp in run["spans"]:
            if sp["op"] != "setup" and sp["layer"].startswith("textops."):
                near_dup_s[sp["op"]] = near_dup_s.get(sp["op"], 0.0) + sp["s"]
        df = spark.read.parquet(*(self.corpus.files[f] for f in self._files(run["ops"] - 1)))
        t = time.perf_counter()
        sigs = textops.token_minhash_signatures(df).localCheckpoint(eager=True)
        t_sig = time.perf_counter() - t
        t = time.perf_counter()
        cands = textops.lsh_candidate_pairs(sigs, "doc_id", 32, 4).localCheckpoint(eager=True)
        t_cand = time.perf_counter() - t
        n_cand = cands.count()
        return {"textops.signatures_s": t_sig, "textops.candidates_s": t_cand,
                "textops.candidate_pairs": n_cand,
                "textops.verify_s": max(0.0, median(near_dup_s.values()) - t_sig - t_cand),
                "textops.pairs_per_candidate": len(run["results"][-1][2]) / max(n_cand, 1),
                "textops.retained_mb": median(run["retained"])}

    def kernel_ns(self, k: dict) -> float:
        """Both passes over the slice's tokens: the probe's flatten and
        lookup, the signatures' flatten and one-permutation MinHash."""
        return self.items(0) * (2 * k["arrowutil.list_to_flat_ns_per_token"]
                                + k["bloom.contains_ns_per_key"] + k["minhash.oph_ns_per_shingle"])


WORKLOADS = {w.name: w for w in (BuildFiles, BigFilter, DedupTokens)}
