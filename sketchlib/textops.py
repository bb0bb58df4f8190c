"""Text / training-data pipeline operators: dedup (exact, MinHash-LSH,
SimHash, n-gram Jaccard), language-ID heuristic, quality scoring, token
counting, document fingerprinting.

Not part of the reference (bloomfilter-bsd is a filter library) — these are
the large-scale training-data operations the graft adds as first-class
components, built on the same sketch kernels (MinHash signatures reuse
sketchlib.minhash) and the same Spark idioms: built-in SQL functions where
expressible (exact dedup, quality stats — Catalyst/Tungsten path), Arrow
``mapInArrow`` kernels where not (signatures, fingerprints).

Scale notes:
- exact dedup is a hash-aggregate on sha2(text) — one shuffle, AQE-skew safe;
- every near-dup pipeline (MinHash over text or token arrays, SimHash,
  embedding LSH) shares one banded-LSH stage: (band, h) bucket rows →
  ``_band_pairs`` (one ``collect_list`` shuffle; bucket sizes capped at
  ``max_bucket`` so a bucket of identical docs cannot go quadratic on one
  executor) → ``_join_pair_sides`` for the verify;
- SimHash candidates use 4x16-bit band exact-match (finds all pairs within
  Hamming distance 3 by pigeonhole), verified by popcount.
"""

from __future__ import annotations

import sys

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from sketchlib import _worker, arrowutil, minhash as mh
from sketchlib.config import MinHashConfig
from sketchlib.hashing import splitmix64

# ---------------------------------------------------------------------------
# exact dedup (pure Spark SQL — Catalyst handles it end to end)
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum-id representative of each distinct text (hash-groupBy
    on sha2 — never shuffles the full text twice)."""
    h = F.sha2(F.col(text_col), 256).alias("_h")
    reps = df.select(h, F.col(id_col)).groupBy("_h").agg(F.min(id_col).alias(id_col))
    return df.join(reps, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# word hashing / shingling kernel (Arrow batch -> NumPy, no per-token Python)
# ---------------------------------------------------------------------------

def _fnv64(word: str) -> int:
    h = 0xCBF29CE484222325
    for b in word.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _word_hashes(texts) -> tuple[np.ndarray, np.ndarray]:
    """Flat word-hash array + per-doc segment starts for a batch of texts
    (pandas Series or pyarrow StringArray). Arrow-side whitespace split +
    dictionary encode, so Python touches only the *distinct* words."""
    import pyarrow.compute as pc

    # pandas deliberately not imported at module level: this module is what
    # cold python workers import for the signature/langid/fingerprint kernels,
    # and pandas costs ~0.22 s per worker. A pd.Series argument can only
    # exist if the caller's process already imported pandas.
    pd = sys.modules.get("pandas")
    if pd is not None and isinstance(texts, pd.Series):
        arr = pa.array(texts.fillna(""), type=pa.string())
    else:
        arr = texts if not isinstance(texts, pa.ChunkedArray) else texts.combine_chunks()
        arr = pc.coalesce(arr, "")
    arr = pc.utf8_trim_whitespace(arr)
    words_list = pc.utf8_split_whitespace(arr)
    lens = pc.list_value_length(words_list).to_numpy(zero_copy_only=False).astype(np.int64)
    # a fully-empty (trimmed) doc still splits to [''] — zero it out
    empty_row = pc.equal(arr, "").to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(words_list)
    if empty_row.any():
        raw_starts = np.r_[0, np.cumsum(lens)[:-1]]
        keep = np.ones(len(flat), dtype=bool)
        keep[raw_starts[empty_row]] = False
        flat = flat.filter(pa.array(keep))
        lens = np.where(empty_row, 0, lens)
    starts = np.r_[0, np.cumsum(lens)[:-1]] if lens.size else np.zeros(0, np.int64)
    total = int(lens.sum()) if lens.size else 0
    if total == 0:
        return np.empty(0, dtype=np.uint64), starts
    dic = pc.dictionary_encode(flat)
    codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniques = dic.dictionary.to_pylist()
    uh = np.fromiter((_fnv64(w) for w in uniques), dtype=np.uint64, count=len(uniques))
    return splitmix64(uh[codes], seed=11), starts


def _shingle_hashes(word_h: np.ndarray, starts: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """n-gram shingle hashes per doc from flat word hashes: combine n
    consecutive word hashes with distinct rotations. Docs shorter than n
    contribute their single whole-doc hash."""
    total = word_h.size
    ends = np.r_[starts[1:], total]
    if total == 0:
        return np.empty(0, dtype=np.uint64), starts.copy()
    seg_len_per_pos = ends - starts
    doc_end = np.repeat(ends, seg_len_per_pos)  # owning doc's end, per position
    pos = np.arange(total, dtype=np.int64)
    with np.errstate(over="ignore"):
        acc = word_h.copy()
        for j in range(1, n):
            shifted = np.zeros_like(word_h)
            valid = pos + j < doc_end  # never combine across a doc boundary
            src = pos[valid] + j
            shifted[valid] = word_h[src]
            acc = acc * np.uint64(0x9E3779B97F4A7C15) + shifted
    # valid shingle positions: within-doc windows of length n
    seg_len = ends - starts
    n_sh = np.maximum(seg_len - (n - 1), np.minimum(seg_len, 1))
    out_starts = np.r_[0, np.cumsum(n_sh)[:-1]]
    # gather index = concat of arange(s, s+c) per doc, built with ONE
    # repeat/cumsum ramp — no per-doc Python (the old list-comprehension
    # concatenate was the last Python loop in the minhash hot path)
    total_sh = int(n_sh.sum())
    if total_sh:
        nz = n_sh > 0
        c_nz = n_sh[nz]
        seg_off = np.repeat(np.r_[0, np.cumsum(c_nz)[:-1]], c_nz)
        idx = (np.repeat(starts[nz], c_nz)
               + np.arange(total_sh, dtype=np.int64) - seg_off)
    else:
        idx = np.empty(0, dtype=np.int64)
    return splitmix64(acc[idx]), out_starts.astype(np.int64)


# ---------------------------------------------------------------------------
# MinHash signatures + the one banded-LSH stage
# ---------------------------------------------------------------------------

def _token_hashes(tokens) -> tuple[np.ndarray, np.ndarray]:
    """Flat token-id hashes + per-doc segment starts for a batch of token
    arrays — the token-array counterpart of :func:`_word_hashes`."""
    flat, starts = arrowutil.list_to_flat(tokens)
    return splitmix64(flat.astype(np.uint64), seed=11), starts


def _signatures(
    df: DataFrame, col: str, id_col: str, num_perm: int, shingle_n: int,
    token_hashes,
) -> DataFrame:
    """(id, signature array<bigint>) — the one MinHash kernel. ``token_hashes``
    maps a batch column to flat hashes + doc starts (``_word_hashes`` or
    ``_token_hashes``); n-shingles then go through one-permutation hashing
    (``minhash.signatures_segmented_oph``): one hash pass + one sort."""
    cfg = MinHashConfig(num_perm=num_perm)
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        for batch in batches:
            wh, starts = token_hashes(batch.column(col))
            sh, sstarts = _shingle_hashes(wh, starts.astype(np.int64), shingle_n)
            sigs = mh.signatures_segmented_oph(sh, sstarts, cfg)
            arr = pa.FixedSizeListArray.from_arrays(
                pa.array(sigs.view(np.int64).ravel(), type=pa.int64()), cfg.num_perm
            ).cast(pa.list_(pa.int64()))  # uint64 reinterpreted as Spark bigint
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), arr], names=[id_col, "signature"])

    return df.select(id_col, col).mapInArrow(fn, f"{id_col} {id_type}, signature array<bigint>")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 128, shingle_n: int = 3,
) -> DataFrame:
    """(id, signature array<bigint>) — per-doc MinHash over word n-shingles."""
    return _signatures(df, text_col, id_col, num_perm, shingle_n, _word_hashes)


def token_minhash_signatures(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
    num_perm: int = 128, shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signatures directly over the pre-tokenized corpus
    shape (BASELINE.json:15: tokens array<int32>) — token-id n-gram shingles,
    no text processing at all. This is the dedup op a tokenized training
    pipeline actually runs."""
    return _signatures(df, tokens_col, id_col, num_perm, shingle_n, _token_hashes)


def _band_pairs(
    stacked: DataFrame, id_col: str, max_bucket: int, payload: tuple[str, ...] = (),
) -> DataFrame:
    """The one banded-LSH candidate stage (MinHash, SimHash, embedding LSH).
    ``stacked`` holds one row per (member, bucket): ``band``, ``h``, the id
    and the ``payload`` columns. Returns distinct (a, b) id pairs, a < b,
    that share a bucket, with each payload column as ``<col>_a``/``<col>_b``.

    - NULL-``h`` rows (invalid embeddings) are dropped first: grouped, they
      would form one bucket that the cap never sees.
    - Oversized buckets (a duplicate-heavy corpus puts every identical doc
      in the same buckets) are thinned to ~``max_bucket`` by a deterministic
      ``xxhash64(id, band, h)`` sample, with no global sort: only the keys
      of a small ``groupBy(band, h).count()`` are broadcast back.
    - Pairs come from ONE shuffle (``collect_list`` per bucket) and a JVM
      pair expansion, not a self-join that shuffles once per side. ``a < b``
      also drops the (x, x) pair of an id repeated within a bucket."""
    stacked = stacked.filter(F.col("h").isNotNull())
    oversized = (
        stacked.groupBy("band", "h").agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket)
    )
    capped = (
        stacked.join(F.broadcast(oversized), ["band", "h"], "left_outer")
        .filter(
            F.col("_n").isNull()
            | (F.pmod(F.xxhash64(id_col, "band", "h"),
                      F.ceil(F.col("_n") / max_bucket).cast("long")) == 0)
        )
    )
    member = F.struct(*[F.col(c) for c in (id_col, *payload)])
    ms = F.col("_ms")
    pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.size(ms)),
                lambda y: F.struct(x.alias("_x"), y.alias("_y")),
            ),
        )
    )
    return (
        capped.groupBy("band", "h").agg(F.array_sort(F.collect_list(member)).alias("_ms"))
        .select(F.explode(pairs).alias("_p"))
        .select(F.col(f"_p._x.{id_col}").alias("a"), F.col(f"_p._y.{id_col}").alias("b"),
                *[F.col(f"_p._x.{c}").alias(f"{c}_a") for c in payload],
                *[F.col(f"_p._y.{c}").alias(f"{c}_b") for c in payload])
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id",
    bands: int = 32, rows_per_band: int = 4, max_bucket: int = 200,
) -> DataFrame:
    """Band the signatures and emit distinct candidate (a, b) pairs with
    a < b from every (band, band_hash) bucket (:func:`_band_pairs`).
    ``bands * rows_per_band`` must equal the signature length."""
    # one small higher-order expression instead of 32 materialized band
    # columns + an explode over 32 structs: the old form built a ~300-node
    # expression tree that Catalyst re-optimized on every AQE replan (a
    # measurable slice of the pipeline's driver time); the hash values are
    # bit-identical (same xxhash64 over (int band, rows_per_band bigints))
    sig = F.col("signature")
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            b, *[F.get(sig, b * rows_per_band + F.lit(r)) for r in range(rows_per_band)]
        ),
    )
    stacked = sigs.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "h"))
    return _band_pairs(stacked, id_col, max_bucket)


# inputs whose Catalyst size estimate is below this are "small": a table
# derived from them is eagerly checkpointed (``_materialize``), and the
# signature table provably fits a broadcast (estimate is the raw text bytes;
# 128-slot signatures are within ~4x of 300-byte docs). Large corpora keep
# the cache + shuffle joins — the 100 TB shape.
_SMALL_INPUT_BYTES = 32 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a plan (bytes) — free (no job); for a
    bare file scan it is the file-size sum. Used only for conservative
    broadcast decisions, never for results."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _materialize(df: DataFrame, gate_df: DataFrame) -> tuple[DataFrame, bool]:
    """The one materialization policy for a table that several plan branches
    read; returns ``(materialized df, small)``. ``small`` is whether
    ``gate_df`` (the input columns ``df`` derives from) is provably small by
    its plan size estimate (no job). A small input is eagerly
    localCheckpointed: materialized ONCE in block storage (no columnar cache
    encode, no multi-branch materialization race, lineage truncated so AQE
    replans a smaller tree — measured -0.4 s cold on the MinHash-LSH path).
    Larger inputs are cache()d, whose retained lineage recomputes lost
    partitions on executor failure."""
    small = _plan_size_bytes(gate_df) <= _SMALL_INPUT_BYTES
    return (df.localCheckpoint(eager=True) if small else df.cache()), small


def _join_pair_sides(
    pairs: DataFrame, table: DataFrame, id_col: str, col: str, small: bool,
) -> tuple[DataFrame, "F.Column", "F.Column"]:
    """The one verify join: ``table[col]`` for both ids of every (a, b)
    pair, as ``(joined, col_a, col_b)``. ``small`` (from the input plan's
    size estimate) broadcasts ``table``; large corpora shuffle-join."""
    if small:
        # both join sides broadcast the SAME projection (rename above the
        # exchange, not below): the two BroadcastExchange children
        # canonicalize identically, so the second join reuses the first
        # build (ReusedExchange) — one broadcast materialization job
        # instead of two. Rows unchanged: same inner equi-joins.
        base = F.broadcast(table.select(id_col, col))
        joined = (
            pairs.join(base.alias("_sa"), F.col("a") == F.col(f"_sa.{id_col}"))
            .join(base.alias("_sb"), F.col("b") == F.col(f"_sb.{id_col}"))
        )
        return joined, F.col(f"_sa.{col}"), F.col(f"_sb.{col}")
    sa = table.select(F.col(id_col).alias("a"), F.col(col).alias(f"{col}_a"))
    sb = table.select(F.col(id_col).alias("b"), F.col(col).alias(f"{col}_b"))
    return pairs.join(sa, "a").join(sb, "b"), F.col(f"{col}_a"), F.col(f"{col}_b")


def _minhash_pairs(
    df: DataFrame, col: str, id_col: str, num_perm: int, shingle_n: int,
    bands: int, threshold: float, token_hashes,
) -> DataFrame:
    """The one MinHash near-dup driver: signatures → LSH candidates → slot-
    agreement Jaccard estimate on the full signatures → pairs >= threshold."""
    # size-adaptive join strategy (plan stats, no job): a provably small
    # input broadcasts the signature table into the verification joins;
    # large corpora keep the shuffle joins. (Skipping materialization for
    # small inputs was measured SLOWER — 3 recomputed scan+signature branches
    # cost more than the one barrier — so it is unconditional.)
    sigs, small = _materialize(
        _signatures(df, col, id_col, num_perm, shingle_n, token_hashes),
        df.select(id_col, col))
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_perm // bands)
    joined, sig_a, sig_b = _join_pair_sides(cands, sigs, id_col, "signature", small)
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
    # the join meets every row of a repeated id: one output row per pair
    return (
        joined.withColumn("jaccard_est", agree / F.lit(num_perm))
        .filter(F.col("jaccard_est") >= threshold)
        .select("a", "b", "jaccard_est")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 128, shingle_n: int = 3, bands: int = 32,
    threshold: float = 0.7,
) -> DataFrame:
    """(a, b, jaccard_est) near-dup pairs over word n-shingles."""
    return _minhash_pairs(df, text_col, id_col, num_perm, shingle_n, bands,
                          threshold, _word_hashes)


def token_near_duplicates(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
    num_perm: int = 128, shingle_n: int = 3, bands: int = 32,
    threshold: float = 0.7,
) -> DataFrame:
    """(a, b, jaccard_est) near-dup pairs over token-id n-shingles."""
    return _minhash_pairs(df, tokens_col, id_col, num_perm, shingle_n, bands,
                          threshold, _token_hashes)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word hashes (sign-sum of hash bits)."""
    in_type = df.schema[id_col].dataType.simpleString()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        for batch in batches:
            ids = batch.column(id_col)
            # Arrow array straight through (same as minhash_signatures); the
            # former to_pandas() materialized every string as a Python
            # object per batch just to convert back
            wh, starts = _word_hashes(batch.column(text_col))
            n_docs = batch.num_rows
            starts = starts.astype(np.int64)
            seg_len = np.diff(np.r_[starts, wh.size])
            sh = np.zeros(n_docs, dtype=np.uint64)
            if wh.size:
                # one unpack pass: (n_words, 64) bit matrix (little-endian
                # byte view), then ONE segment-reduce per doc — replaces the
                # former 64 float-weighted bincount passes per batch
                bitmat = np.unpackbits(
                    wh.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )
                # reduceat over NONEMPTY docs only (strictly increasing
                # starts; each range ends at the next nonempty start) —
                # exact for empty docs anywhere, incl. at the batch tail
                # where a clamped start would shift the previous doc's
                # boundary and drop its last word's bits from the vote.
                ones = np.zeros((n_docs, 64), dtype=np.int64)
                ne = seg_len > 0
                if ne.any():
                    ones[ne] = np.add.reduceat(
                        bitmat.astype(np.int64), starts[ne], axis=0
                    )
                votes = 2 * ones - seg_len[:, None]  # (+1 per set bit, -1 per clear)
                sign = (votes > 0).astype(np.uint64)
                sh = (sign << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sh.view(np.int64))], names=[id_col, "simhash"]
            )

    return df.select(id_col, text_col).mapInArrow(fn, f"{id_col} {in_type}, simhash bigint")


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, max_bucket: int = 200,
) -> DataFrame:
    """Near-dup pairs by SimHash: 4x16-bit bands (pigeonhole: any pair within
    Hamming distance 3 shares at least one exact band) → candidate pairs
    from :func:`_band_pairs` (capped buckets; the simhash value rides along
    as payload) → verify popcount."""
    sh, _ = _materialize(simhash(df, text_col, id_col), df.select(id_col, text_col))
    bands = [F.struct(F.lit(b).alias("band"), F.shiftrightunsigned(F.col("simhash"), b * 16)
                      .bitwiseAND(F.lit(0xFFFF)).alias("h")) for b in range(4)]
    stacked = sh.select(id_col, "simhash", F.explode(F.array(*bands)).alias("bh")).select(
        id_col, "simhash", "bh.band", "bh.h")
    pairs = _band_pairs(stacked, id_col, max_bucket, ("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return pairs.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("a", "b", "hamming")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for verification / small candidate sets)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard for given (a, b) pairs — the verifier behind
    the MinHash estimate. Uses Spark array ops (JVM-side). The pair list is
    materialized by ``_materialize``: for a small ``df`` that runs one job
    here (eager checkpoint); for a large one it is cached lazily with its
    lineage retained."""
    # materialize the pair list once: callers typically pass the
    # un-materialized output of a full LSH pipeline, and the plan below
    # references it three times (two id prunes + the final join)
    pairs, _ = _materialize(pairs, df.select(id_col, text_col))
    # shingle only documents that appear in some pair (guide §3: reduce the
    # big side before the join) — the inner joins below drop every other
    # document anyway, so rows are unchanged; the gram computation is the
    # pipeline's dominant term when pairs cover few docs
    pair_ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    df = df.join(pair_ids, id_col, "left_semi")
    # try_element_at, not element_at: under Spark 4's default ANSI mode an
    # out-of-bounds element_at aborts the job, and docs shorter than
    # shingle_n index past the words array (their single gram is the whole
    # doc — concat_ws skips the nulls try_element_at returns). The split is
    # also hoisted so the plan computes it once, not shingle_n+1 times.
    words = F.split(F.col(text_col), r"\s+")
    grams = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(words) - shingle_n, F.lit(0)),
                ),
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at(words, i + j + 1) for j in range(shingle_n)]
                ),
            )
        ).alias("grams"),
    )
    joined, ga, gb = _join_pair_sides(pairs, grams, id_col, "grams", small=False)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(F.array_union(ga, gb))
    return joined.withColumn("jaccard", inter / union).select("a", "b", "jaccard")


# ---------------------------------------------------------------------------
# language ID, quality scoring, token counting, fingerprint
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "las", "es", "una"],
}


def langid_heuristic(df: DataFrame, text_col: str = "text", split_pattern: str = r"\s+") -> DataFrame:
    """Marker-word language scorer (pure Spark SQL: one pass, no UDF). Adds
    ``lang_pred`` and per-language scores; docs with no markers get 'und'.
    Tie-break: first language in marker-table order."""
    words = F.split(F.lower(F.col(text_col)), split_pattern)
    out = df
    score_cols = []
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.array_intersect(F.array_distinct(words), arr))
        out = out.withColumn(f"score_{lang}", score)
        score_cols.append(f"score_{lang}")
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in _LANG_MARKERS:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return out.withColumn("lang_pred", pred)


_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    # common ASCII character trigrams per language (space-padded word
    # boundaries included) — public-knowledge frequency tables, embedded so
    # the scorer needs no external data
    "en": ("the", "he ", " th", "ing", "ng ", "and", "nd ", " an", "ed ",
           " of", "of ", " to", "to ", "ion", " in", "in ", "er ", " is",
           "is ", "on ", "es ", "at ", "ent", " be", " co", "tha", "hat",
           " wa", "was", "for", " fo", "ere", " he", "his", " it", "it "),
    "de": ("der", "er ", " de", "die", "ie ", " di", "und", "nd ", " un",
           "ch ", "sch", " sc", "ein", " ei", "ich", "cht", "ung", "gen",
           "das", "as ", " da", "ist", "st ", "ten", "ne ", "ber", "den",
           "en ", "nde", " ge", "eit", "ver", " ve", "ite", "ens", "ess"),
    "fr": (" de", "de ", "es ", "le ", " le", "ent", "nt ", "la ", " la",
           "et ", " et", "les", "des", "ion", "on ", "que", " qu", "ue ",
           "re ", " pa", "ait", "eur", "ous", " po", "ur ", "ne ", "e d",
           "e l", "ans", " da", "dan", "our", " un", "une", "ais", "men"),
    "es": (" de", "de ", "la ", " la", "os ", "el ", " el", "que", " qu",
           "ue ", "en ", " en", "es ", "as ", "los", " lo", "ion", "nte",
           "ado", " es", "era", "ar ", "una", " un", "con", " co", "por",
           " po", "cio", "aci", "dad", "nto", "sta", " se", "se ", "res"),
}


def _trigram_codes(tris: tuple[str, ...]) -> np.ndarray:
    codes = np.array(
        [(ord(t[0]) << 16) | (ord(t[1]) << 8) | ord(t[2]) for t in tris],
        dtype=np.int64,
    )
    return np.sort(codes)


def langid_trigram(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Char-trigram language ID — the capability upgrade over the
    SQL-expressible marker-word heuristic (``langid_heuristic``): per
    language, count occurrences of its common trigrams (word-boundary
    spaces included) and predict the argmax, 'und' when nothing matches.

    Kernel: zero-copy Arrow byte buffer -> packed 24-bit trigram codes via
    shifted views (document-boundary trigrams masked out) -> sorted
    ``np.isin`` per language -> per-doc bincount. O(total_bytes x langs),
    no per-row Python."""
    import pyarrow.compute as pc

    in_type = df.schema[id_col].dataType.simpleString()
    langs = list(_TRIGRAM_PROFILES)
    profiles = {lg: _trigram_codes(t) for lg, t in _TRIGRAM_PROFILES.items()}

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        for batch in batches:
            arr = batch.column(text_col)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            arr = pc.coalesce(arr, "")
            barr = arr.cast(pa.large_binary())
            n = len(barr)
            bufs = barr.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int64)[barr.offset: barr.offset + n + 1]
            if bufs[2] is not None and offs[-1] > offs[0]:
                data = np.frombuffer(bufs[2], dtype=np.uint8)[offs[0]: offs[-1]]
            else:
                data = np.empty(0, dtype=np.uint8)
            starts = (offs[:-1] - offs[0]).astype(np.int64)
            lens = np.diff(offs).astype(np.int64)
            scores = np.zeros((n, len(langs)), dtype=np.float64)
            total = data.shape[0]
            if total >= 3:
                d = data.astype(np.int64)
                codes = (d[:-2] << 16) | (d[1:-1] << 8) | d[2:]
                pos = np.arange(total - 2, dtype=np.int64)
                row = np.repeat(np.arange(n, dtype=np.int64), lens)[: total - 2]
                # a trigram at pos p belongs to row r only if it fits inside
                # the row's own bytes (no cross-document trigrams)
                valid = pos + 3 <= starts[row] + lens[row]
                denom = np.maximum(lens - 2, 1).astype(np.float64)
                for j, lg in enumerate(langs):
                    hit = valid & np.isin(codes, profiles[lg])
                    scores[:, j] = np.bincount(row[hit], minlength=n) / denom
            best = scores.max(axis=1)
            pred_idx = scores.argmax(axis=1)
            pred = np.where(best <= 0.0, "und",
                            np.array(langs, dtype=object)[pred_idx])
            cols = [batch.column(id_col), pa.array(pred, type=pa.string())]
            names = [id_col, "lang_trigram"]
            for j, lg in enumerate(langs):
                cols.append(pa.array(scores[:, j]))
                names.append(f"tscore_{lg}")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    score_schema = ", ".join(f"tscore_{lg} double" for lg in langs)
    return df.select(id_col, F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
                     .alias(text_col)).mapInArrow(
        fn, f"{id_col} {in_type}, lang_trigram string, {score_schema}")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio / mean-word-length features +
    a composite quality score — all built-in SQL functions (JVM-side)."""
    text = F.col(text_col)
    words = F.split(text, r"\s+")
    n_words = F.size(words)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is")])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    mean_wlen = (n_chars - (n_words - 1)) / n_words
    return (
        df.withColumn("n_words", n_words)
        .withColumn("punct_ratio", n_punct / F.greatest(n_chars, F.lit(1)))
        .withColumn("stop_ratio", n_stop / F.greatest(n_words, F.lit(1)))
        .withColumn("mean_word_len", mean_wlen)
        .withColumn(
            "quality_score",
            F.when(n_words < 5, 0.0).otherwise(
                F.least(F.lit(1.0), n_words / F.lit(100.0)) * (1.0 - (n_punct / F.greatest(n_chars, F.lit(1))))
            ),
        )
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword estimate (split on whitespace AND
    punctuation/camelCase boundaries). Both are split counts, nothing more:
    a long single word still counts as 1 BPE-ish token (no chars/4 floor —
    callers sizing strict token budgets should combine with n_chars)."""
    ws = F.size(F.split(F.col(text_col), r"\s+"))
    bpe_ish = F.size(F.split(F.col(text_col), r"\s+|(?<=[a-z])(?=[A-Z])|(?=[^\w\s])"))
    return df.withColumn("n_tokens_ws", ws).withColumn("n_tokens_bpe_ish", bpe_ish)


_FP_B = 1099511628211  # odd => invertible mod 2**64
_FP_INVB = pow(_FP_B, -1, 1 << 64)


def fingerprint_bytes_segmented(data: np.ndarray, starts: np.ndarray,
                                lens: np.ndarray) -> np.ndarray:
    """Per-segment Rabin-Karp polynomial fingerprint over a flat byte array:
    ``fp = sum(byte_i * B^(len-1-i)) mod 2**64`` — identical to byte-wise
    Horner but computed in O(total_bytes) flat vector ops.

    Trick: B is odd, hence invertible mod 2**64, so
    ``fp = (sum byte_i * B^(-i)) * B^(len-1)``; the inner sum is one
    elementwise multiply against a cumulative inverse-power table followed by
    ``np.add.reduceat`` per segment. No per-row Python, no dense
    (n_docs x maxlen) matrix — one 1 MB doc in a 64k-row batch costs 1 MB,
    not 64 GB."""
    n = starts.size
    out = np.zeros(n, dtype=np.uint64)
    total = int(lens.sum())
    if total == 0:
        return out
    maxlen = int(lens.max())
    with np.errstate(over="ignore"):
        # power tables: pw[i] = B^i, pwi[i] = B^-i (mod 2**64)
        pw = np.empty(maxlen, dtype=np.uint64)
        pwi = np.empty(maxlen, dtype=np.uint64)
        pw[0] = pwi[0] = 1
        if maxlen > 1:
            np.multiply.accumulate(
                np.full(maxlen - 1, _FP_B, dtype=np.uint64), out=pw[1:])
            np.multiply.accumulate(
                np.full(maxlen - 1, _FP_INVB, dtype=np.uint64), out=pwi[1:])
        pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
        terms = data.astype(np.uint64) * pwi[pos]
        # reduceat over NONEMPTY segments only: their starts are strictly
        # increasing and each range ends exactly at the next nonempty start
        # (empty segments have zero width), so this is exact for empty
        # segments anywhere in the batch — including a run at the tail,
        # where a clamped-start reduceat would steal the previous doc's
        # last byte (batch-layout-dependent fingerprints).
        nonempty = lens > 0
        if nonempty.any():
            sums = np.add.reduceat(terms, starts[nonempty])
            out[nonempty] = sums * pw[lens[nonempty] - 1]
    return out


def doc_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rolling polynomial (Rabin-Karp-style) fingerprint over utf-8 bytes.

    The kernel reads the Arrow string buffer zero-copy (flat bytes + int64
    offsets — no per-row ``encode`` and no length-padded matrix) and runs
    ``fingerprint_bytes_segmented`` over it, so cost is O(total bytes) and
    independent of the longest document in the batch."""
    import pyarrow.compute as pc

    in_type = df.schema[id_col].dataType.simpleString()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        for batch in batches:
            arr = batch.column(text_col)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            arr = pc.coalesce(arr, "")
            # large_binary => int64 offsets into one flat byte buffer
            barr = arr.cast(pa.large_binary())
            n = len(barr)
            bufs = barr.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int64)[barr.offset: barr.offset + n + 1]
            if bufs[2] is not None and offs[-1] > offs[0]:
                data = np.frombuffer(bufs[2], dtype=np.uint8)[offs[0]: offs[-1]]
            else:
                data = np.empty(0, dtype=np.uint8)
            starts = (offs[:-1] - offs[0]).astype(np.int64)
            lens = np.diff(offs).astype(np.int64)
            out = fingerprint_bytes_segmented(data, starts, lens)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(out.view(np.int64))],
                names=[id_col, "fingerprint"],
            )

    return df.select(id_col, text_col).mapInArrow(fn, f"{id_col} {in_type}, fingerprint bigint")
