"""Seeded input generator for the benchmark.

Everything the library is handed is generated here from ``--seed`` and
written as parquet before set-up starts; the library never sees the seed.
Each input set is written once per (kind, size, seed) under ``_run/inputs``
with the exact answers the checkers need (``truth.npz`` / ``truth.json``),
computed from the same in-memory arrays that were written.

Corpus law (FIXTURES.md F1): doc length ~ lognormal(ln 300, 0.8) clipped to
[8, 4096]; token ids ~ Zipf(s=1.2) truncated to [0, V-1) with V = 2**17
(the law rejection-clipping produces); source in {web .70, books .15,
code .10, wiki .05}. On top of it every file carries planted near-duplicate
clusters: a base document plus variants with a few token positions redrawn,
so their 3-token-shingle Jaccard with the base is known exactly.

Key sets (big_filter): ``members`` and ``non_members`` are disjoint images
of a seeded bijection on [0, 2**31), so both are distinct without a sort.
Fixed keys (the fixed-input operation): ``n_sets`` groups of exactly
``n_keys`` distinct keys each, made the same way, and the vocabulary, every
token id the corpus law draws, once.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 1 << 17
ZIPF_S = 1.2
SOURCES = ("web", "books", "code", "wiki")
SOURCE_P = (0.70, 0.15, 0.10, 0.05)
SHINGLE_N = 3
# token positions redrawn per variant; 3-shingle Jaccard with the base is
# roughly 0.97, 0.94, 0.89, 0.80 (the exact value is computed per pair)
VARIANT_REDRAW = (0.005, 0.01, 0.02, 0.04)
MIN_BASE_LEN = 64
KEEP_INPUT_SETS = 2  # older input sets are deleted so a long series of seeds cannot fill the disk


class ZipfSampler:
    """Inverse-CDF sampler for the truncated Zipf law with a guide table:
    one table lookup resolves the head, ``searchsorted`` only the ~10% of
    draws that land in a bucket holding a CDF step."""

    GUIDE = 1 << 16

    def __init__(self, vocab: int = VOCAB, s: float = ZIPF_S):
        w = np.arange(1, vocab, dtype=np.float64) ** -s
        cdf = np.cumsum(w)
        self.cdf = cdf / cdf[-1]
        self.cdf[-1] = 1.0
        grid = np.arange(self.GUIDE + 1, dtype=np.float64) / self.GUIDE
        self.guide = np.minimum(np.searchsorted(self.cdf, grid, side="right"), vocab - 2)

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        u = rng.random(n)
        j = (u * self.GUIDE).astype(np.int64)
        lo = self.guide[j]
        out = lo.copy()
        amb = np.flatnonzero(self.guide[j + 1] != lo)
        if amb.size:
            out[amb] = np.searchsorted(self.cdf, u[amb], side="right")
        return np.minimum(out, VOCAB - 2).astype(np.int32)


def shingle_codes(tokens: np.ndarray) -> np.ndarray:
    """Distinct 3-token shingles of one document as exact int64 codes."""
    t = tokens.astype(np.int64)
    if t.size < SHINGLE_N:
        return np.unique(t)
    return np.unique((t[:-2] * VOCAB + t[1:-1]) * VOCAB + t[2:])


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = shingle_codes(a), shingle_codes(b)
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    return inter / float(sa.size + sb.size - inter)


@dataclass
class Corpus:
    path: str            # parquet directory handed to the library
    files: list[str]
    truth: dict          # token_counts (source x token), per-doc n_tok / doc_source / doc_file, pairs
    meta: dict           # n_docs, n_tokens, n_files, pairs per file, ...


def _prune(root: str, keep: str) -> None:
    """Keep the ``KEEP_INPUT_SETS`` most recently used seeded input sets; the
    seed-independent sets under ``fixed/`` are kept."""
    if not os.path.isdir(root):
        return
    sets = [os.path.join(root, d) for d in os.listdir(root) if d != "fixed"]
    sets = sorted((d for d in sets if os.path.isdir(d) and d != keep),
                  key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_INPUT_SETS - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def _file_docs(seed: int, fidx: int, n_docs: int, n_clusters: int, zipf: ZipfSampler):
    rng = np.random.default_rng([seed, 1, fidx])
    lens = np.clip(np.round(rng.lognormal(np.log(300.0), 0.8, n_docs)), 8, 4096).astype(np.int64)
    tokens = zipf.draw(rng, int(lens.sum()))
    src = rng.choice(len(SOURCES), size=n_docs, p=SOURCE_P)
    offsets = np.r_[0, np.cumsum(lens)]
    docs = [tokens[offsets[i]:offsets[i + 1]] for i in range(n_docs)]
    srcs = list(src)
    # planted clusters: variant v of base b redraws VARIANT_REDRAW[v] of b's positions
    eligible = np.flatnonzero(lens >= MIN_BASE_LEN)
    bases = rng.choice(eligible, size=min(n_clusters, eligible.size), replace=False)
    clusters = []
    for b in bases:
        members = [int(b)]
        for frac in VARIANT_REDRAW:
            v = docs[b].copy()
            pos = rng.choice(v.size, size=max(1, int(round(frac * v.size))), replace=False)
            v[pos] = zipf.draw(rng, pos.size)
            members.append(len(docs))
            docs.append(v)
            srcs.append(srcs[b])
        clusters.append(members)
    return docs, np.asarray(srcs, dtype=np.int64), clusters


def _write_file(data: str, seed: int, f: int, docs_per_file: int, clusters_per_file: int):
    """Write corpus file ``f``; return its doc lengths and sources, its
    (source, token) counts and its within-cluster pairs with exact Jaccard."""
    docs, srcs, clusters = _file_docs(seed, f, docs_per_file, clusters_per_file, ZipfSampler())
    lens = np.fromiter((d.size for d in docs), dtype=np.int64, count=len(docs))
    flat = np.concatenate(docs)
    counts = np.bincount(np.repeat(srcs, lens) * VOCAB + flat,
                         minlength=len(SOURCES) * VOCAB).reshape(len(SOURCES), VOCAB)
    ids = [f"doc{f:03d}_{i:07d}" for i in range(len(docs))]
    pairs = [(f, ids[a], ids[b], jaccard(docs[a], docs[b]))
             for members in clusters for i, a in enumerate(members) for b in members[i + 1:]]
    table = pa.table({
        "doc_id": pa.array(ids, pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(np.r_[0, np.cumsum(lens)].astype(np.int32)), pa.array(flat, pa.int32())),
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(np.asarray(SOURCES, dtype=object)[srcs], pa.string()),
    })
    pq.write_table(table, os.path.join(data, f"part-{f:03d}.parquet"), row_group_size=1 << 14)
    return lens, srcs, counts, pairs


def corpus(root: str, seed: int, n_files: int, docs_per_file: int,
           clusters_per_file: int) -> Corpus:
    """Files are generated in parallel, one process per usable core; each
    file's draws depend only on (seed, file), so the result does not depend
    on the number of processes."""
    name = f"corpus_f{n_files}_d{docs_per_file}_c{clusters_per_file}_s{seed}"
    path = os.path.join(root, name)
    _prune(root, path)
    data = os.path.join(path, "data")
    done = os.path.join(path, "truth.json")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(data)
        workers = min(n_files, len(os.sched_getaffinity(0)))
        with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("fork")) as pool:
            parts = list(pool.map(_write_file, [data] * n_files, [seed] * n_files, range(n_files),
                                  [docs_per_file] * n_files, [clusters_per_file] * n_files))
        token_counts = sum(p[2] for p in parts)
        pairs = [pair for p in parts for pair in p[3]]
        n_toks = [p[0] for p in parts]
        doc_src = [p[1] for p in parts]
        doc_file = [np.full(p[0].size, f, dtype=np.int64) for f, p in enumerate(parts)]
        n_tok = np.concatenate(n_toks)
        np.savez(os.path.join(path, "truth.npz"), token_counts=token_counts, n_tok=n_tok,
                 doc_source=np.concatenate(doc_src), doc_file=np.concatenate(doc_file))
        meta = {"seed": seed, "n_files": n_files, "docs_per_file": docs_per_file,
                "clusters_per_file": clusters_per_file, "n_docs": int(n_tok.size),
                "n_tokens": int(n_tok.sum()), "pairs": pairs}
        with open(done + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(done + ".tmp", done)
    os.utime(path)
    with open(done) as fh:
        meta = json.load(fh)
    with np.load(os.path.join(path, "truth.npz")) as z:
        truth = {k: z[k] for k in z.files}
    truth["pairs"] = [tuple(p) for p in meta.pop("pairs")]
    files = sorted(os.path.join(data, n) for n in os.listdir(data) if n.endswith(".parquet"))
    return Corpus(data, files, truth, meta)


def _perm31(x: np.ndarray, seed: int) -> np.ndarray:
    """Seeded bijection on [0, 2**31): xor-shift and odd-multiply rounds."""
    rng = np.random.default_rng([seed, 2])
    mask = np.uint64((1 << 31) - 1)
    x = x.astype(np.uint64) ^ np.uint64(int(rng.integers(0, 1 << 31)))
    for _ in range(3):
        mul = np.uint64(int(rng.integers(0, 1 << 30)) * 2 + 1)
        x ^= x >> np.uint64(16)
        x = (x * mul) & mask
    x ^= x >> np.uint64(15)
    return x


@dataclass
class KeySets:
    members_path: str
    probe_path: str
    n_members: int
    n_probe_members: int
    n_probe_non: int


def key_sets(root: str, seed: int, n_members: int, n_probe_members: int,
             n_probe_non: int, n_member_files: int, n_probe_files: int) -> KeySets:
    """``members``: ``n_members`` distinct keys, one column ``key``.
    ``probe``: ``n_probe_members`` keys drawn from the members plus
    ``n_probe_non`` keys outside them, columns ``key, is_member``."""
    name = (f"keys_m{n_members}_p{n_probe_members}_n{n_probe_non}"
            f"_f{n_member_files}x{n_probe_files}_s{seed}")
    path = os.path.join(root, name)
    _prune(root, path)
    mpath, ppath = os.path.join(path, "members"), os.path.join(path, "probe")
    done = os.path.join(path, "done")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(mpath)
        os.makedirs(ppath)
        keys = _perm31(np.arange(n_members + n_probe_non, dtype=np.uint64), seed).astype(np.int32)
        members, non = keys[:n_members], keys[n_members:]
        for f, part in enumerate(np.array_split(members, n_member_files)):
            pq.write_table(pa.table({"key": part}), os.path.join(mpath, f"part-{f:03d}.parquet"))
        rng = np.random.default_rng([seed, 3])
        probe_m = members[rng.choice(n_members, size=n_probe_members, replace=False)]
        probe = np.concatenate([probe_m, non])
        flag = np.r_[np.ones(n_probe_members, bool), np.zeros(n_probe_non, bool)]
        order = rng.permutation(probe.size)
        probe, flag = probe[order], flag[order]
        for f, idx in enumerate(np.array_split(np.arange(probe.size), n_probe_files)):
            pq.write_table(pa.table({"key": probe[idx], "is_member": flag[idx]}),
                           os.path.join(ppath, f"part-{f:03d}.parquet"))
        open(done, "w").close()
    os.utime(path)
    return KeySets(mpath, ppath, n_members, n_probe_members, n_probe_non)


@dataclass
class FixedKeys:
    path: str            # parquet directory, columns ``set`` (string) and ``key``
    names: list[str]     # the HLL sets
    n_keys: int          # exact distinct count of every HLL set


VOCAB_SET = "vocab"


def fixed_keys(root: str, n_sets: int, n_keys: int) -> FixedKeys:
    """One file of keys grouped by ``set``: ``n_sets`` disjoint sets of
    ``n_keys`` distinct keys (images of the bijection at seed 0), and the set
    ``vocab`` holding every token id the corpus law draws, 0 .. VOCAB - 2."""
    path = os.path.join(root, f"keys_n{n_sets}_k{n_keys}")
    names = [f"set{s:02d}" for s in range(n_sets)]
    data, done = os.path.join(path, "data"), os.path.join(path, "done")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(data)
        keys = np.r_[_perm31(np.arange(n_sets * n_keys, dtype=np.uint64), 0).astype(np.int64),
                     np.arange(VOCAB - 1, dtype=np.int64)]
        sets = np.r_[np.repeat(np.asarray(names, dtype=object), n_keys),
                     np.full(VOCAB - 1, VOCAB_SET, dtype=object)]
        pq.write_table(pa.table({"set": pa.array(sets, pa.string()), "key": keys}),
                       os.path.join(data, "part-000.parquet"))
        open(done, "w").close()
    return FixedKeys(data, names, n_keys)
