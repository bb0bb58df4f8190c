"""Self-test of the benchmark's checkers: each must pass a correct result and
reject a corrupted one. Needs no Spark; blobs are built with the library's
single-process kernels from a small generated corpus.

    python3 perfbench/selftest.py      # exit 0 when every case behaves
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
from sketchlib import blob as blobmod, bloom, cms, hll, kll, tdigest  # noqa: E402
from sketchlib.config import CMSConfig, HLLConfig, KLLConfig, TDigestConfig  # noqa: E402
from workloads import SMALL_BLOOM  # noqa: E402


def main() -> int:
    root = os.path.join(HERE, "_run", "selftest")
    shutil.rmtree(root, ignore_errors=True)
    c = inputs.corpus(root, 7, n_files=2, docs_per_file=400, clusters_per_file=5)
    counts = c.truth["token_counts"].sum(0)
    present = np.flatnonzero(counts)
    tokens = np.repeat(np.arange(counts.size), counts)
    n_tok = np.sort(c.truth["n_tok"]).astype(np.float64)
    non = np.random.default_rng(1).integers(inputs.VOCAB, 2**31 - 1, 100_000)

    bf = bloom.build_blob(tokens, SMALL_BLOOM)
    hb = hll.build_blob(tokens, HLLConfig(p=14))
    cb = cms.build_blob(tokens, CMSConfig(eps=0.0005, delta=0.01))
    kb = kll.build_blob(n_tok, KLLConfig(k=200))
    tb = tdigest.build_blob(n_tok, TDigestConfig(compression=100))

    name, cfg, payload = blobmod.unpack(bf)
    cleared = bytearray(payload)
    cleared[: len(cleared) // 2] = bytes(len(cleared) // 2)
    saturated = blobmod.pack(name, cfg, b"\xff" * len(payload))
    flipped = bytearray(hb)
    flipped[-1] ^= 1

    # 16 disjoint sets of 70,000 keys (4.3m, where the estimator is unbiased);
    # the corrupted sets hold 2% more keys than the exact count says
    keys = inputs._perm31(np.arange(16 * 71_400, dtype=np.uint64), 3).astype(np.int64).reshape(16, -1)
    sets_ok = [hll.build_blob(k[:70_000], HLLConfig(p=14)) for k in keys]
    sets_bad = [hll.build_blob(k, HLLConfig(p=14)) for k in keys]

    f0 = c.files[0]
    import pyarrow.parquet as pq
    t = pq.read_table(f0, columns=["doc_id", "tokens"])
    docs = dict(zip(t.column("doc_id").to_pylist(),
                    (np.asarray(x, dtype=np.int64) for x in t.column("tokens").to_pylist())))
    planted = [(a, b, j) for (f, a, b, j) in c.truth["pairs"] if f == 0]
    found = {tuple(sorted((a, b))): j for a, b, j in planted if j >= 0.7}
    strong = next(k for k, j in found.items() if j >= 0.85)
    unrelated = tuple(sorted(list(docs)[:2]))

    def jac(a, b):
        return inputs.jaccard(docs[a], docs[b])

    cases = [
        # (label, errors from the correct result, errors from the corrupted one)
        ("bloom no false negatives",
         checks.bloom_no_false_negatives("ok", bf, present),
         checks.bloom_no_false_negatives("bad", blobmod.pack(name, cfg, bytes(cleared)), present)),
        ("bloom false positives",
         checks.bloom_fp_probe("ok", bf, present.size, non),
         checks.bloom_fp_probe("bad", saturated, present.size, non)),
        ("hll bound",
         checks.hll_ok("ok", hb, present.size),
         checks.hll_ok("bad", hll.build_blob(present[: present.size // 2], HLLConfig(p=14)), present.size)),
        ("hll mean bias over sets",
         checks.hll_sets_ok("ok", sets_ok, 70_000),
         checks.hll_sets_ok("bad", sets_bad, 70_000)),
        ("cms never below",
         checks.cms_ok("ok", cb, counts),
         checks.cms_ok("bad", cms.build_blob(tokens[tokens != present[0]], CMSConfig(eps=0.0005, delta=0.01)),
                       counts)),
        ("kll rank error",
         checks.kll_ok("ok", kb, n_tok),
         checks.kll_ok("bad", kll.build_blob(n_tok * 1.5, KLLConfig(k=200)), n_tok)),
        ("t-digest rank error",
         checks.tdigest_ok("ok", tb, n_tok),
         checks.tdigest_ok("bad", tdigest.build_blob(n_tok * 1.5, TDigestConfig(compression=100)), n_tok)),
        ("blob byte identity",
         checks.same_blobs("ok", {("hll", ""): hb}, {("hll", ""): hb}),
         checks.same_blobs("bad", {("hll", ""): bytes(flipped)}, {("hll", ""): hb})),
        ("probe count",
         checks.count_ok("ok", 5, 5),
         checks.count_ok("bad", 4, 5)),
        ("planted pair dropped",
         checks.pairs_ok("ok", found, planted, jac),
         checks.pairs_ok("bad", {k: v for k, v in found.items() if k != strong}, planted, jac)),
        ("unrelated pair reported",
         checks.pairs_ok("ok", found, planted, jac),
         checks.pairs_ok("bad", {**found, unrelated: 0.9}, planted, jac)),
    ]
    shutil.rmtree(root, ignore_errors=True)
    bad = 0
    for label, ok_errs, bad_errs in cases:
        verdict = "ok" if not ok_errs and bad_errs else "FAIL"
        bad += verdict != "ok"
        print(f"{verdict:4s} {label}: correct -> {ok_errs or 'pass'}; corrupted -> {bad_errs[:1] or 'pass'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
