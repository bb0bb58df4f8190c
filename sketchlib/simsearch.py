"""Similarity search over embedding columns (``array<float>``).

Two paths, per the scale playbook:

- **Brute-force cosine top-k** — the exactness baseline. JVM-side variant
  uses built-in higher-order functions (``zip_with`` + ``aggregate`` — stays
  in whole-stage codegen); the Arrow variant does one NumPy matmul per batch
  (the fast path when vectors are wide). Top-k is a ``orderBy(...).limit(k)``
  — Spark executes it as per-partition TakeOrdered + driver merge, no global
  sort shuffle.
- **Random-hyperplane LSH bucketing** — the 100-TB path: a 16-bit signature
  per vector (one matmul against a fixed seeded plane matrix) prunes the scan
  to the query's bucket ± Hamming-1 neighbors before exact rescoring. Probing
  more buckets trades recall for cost without re-indexing.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from sketchlib import _worker


def _valid_matrix(arr: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Row-aligned ``(n_rows x dim)`` float64 matrix + validity mask for an
    embedding list column.

    NEVER ``arr.flatten().reshape(-1, dim)``: ``ListArray.flatten()`` silently
    drops null rows, so every row after the first null is paired with the NEXT
    row's vector — wrong scores/buckets with no error (confirmed live).
    Instead gather through the offsets buffer, which keeps null slots.
    Rows that are null, wrong-length, or contain non-finite values come back
    with ``valid=False`` and an all-zero row; callers decide the semantics
    (skip for top-k candidates, null output column for bucket/cluster)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    mat = np.zeros((n, dim), dtype=np.float64)
    if n == 0:
        return mat, np.zeros(0, dtype=bool)
    valid = (np.ones(n, dtype=bool) if arr.null_count == 0
             else arr.is_valid().to_numpy(zero_copy_only=False).astype(bool))
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = offs[1:] - offs[:-1]
    valid &= lens == dim
    if valid.any():
        # .values (raw child), not .flatten(): flatten compacts null slots
        # away and would shift the gather coordinates
        child = arr.values
        vals = child.to_numpy(zero_copy_only=False).astype(np.float64)
        idx = offs[:-1][valid][:, None] + np.arange(dim, dtype=np.int64)[None, :]
        rows = vals[idx]
        finite = np.isfinite(rows).all(axis=1)
        mat[np.flatnonzero(valid)[finite]] = rows[finite]
        valid[np.flatnonzero(valid)[~finite]] = False
    return mat, valid


def _dot(u: "F.Column", v: "F.Column") -> "F.Column":
    """JVM-side dot product of two equal-length arrays (built-in higher-order
    functions, so it stays in whole-stage codegen)."""
    return F.aggregate(F.zip_with(u, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)


def _cos_expr(vec_col: str, q: list[float]) -> "F.Column":
    v = F.col(vec_col)
    qn = float(np.sqrt(np.dot(q, q)))
    return _dot(v, F.array(*[F.lit(float(x)) for x in q])) / (F.sqrt(_dot(v, v)) * F.lit(qn))


def cosine_topk_sql(df: DataFrame, query: list[float], k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Brute-force top-k, pure built-in functions (no Python in the scan)."""
    return (
        df.select(id_col, _cos_expr(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_arrow(df: DataFrame, query: list[float], k: int = 10,
                      vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Brute-force top-k with per-batch NumPy matmul + per-partition partial
    top-k (only k rows per partition survive to the final merge)."""
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        best_ids: list = []
        best_scores: list = []
        for batch in batches:
            mat, valid = _valid_matrix(batch.column(vec_col), q.size)
            scores = mat @ q / (np.linalg.norm(mat, axis=1) * qn + 1e-30)
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            # null / malformed vectors cannot score — skip, don't misalign
            best_ids.append(ids[valid])
            best_scores.append(scores[valid])
            # keep only the running top-k to bound memory
            all_ids = np.concatenate(best_ids)
            all_sc = np.concatenate(best_scores)
            if all_sc.size > k:
                top = np.argpartition(-all_sc, k - 1)[:k]
                best_ids, best_scores = [all_ids[top]], [all_sc[top]]
            else:
                best_ids, best_scores = [all_ids], [all_sc]
        if best_ids and best_ids[0].size:
            yield pa.RecordBatch.from_arrays(
                [pa.array(best_ids[0]), pa.array(best_scores[0])],
                names=[id_col, "cosine"],
            )

    partial = df.select(id_col, vec_col).mapInArrow(fn, f"{id_col} {id_type}, cosine double")
    return partial.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN
# ---------------------------------------------------------------------------

def _planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_bits))


def with_lsh_bucket(df: DataFrame, dim: int, n_bits: int = 16, seed: int = 4242,
                    vec_col: str = "embedding") -> DataFrame:
    """Add a random-hyperplane signature column ``bucket`` (int). One matmul
    per Arrow batch; the plane matrix is seeded and re-derived on each worker
    (tiny) — no broadcast needed."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        planes = _planes(dim, n_bits, seed)
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        for batch in batches:
            mat, valid = _valid_matrix(batch.column(vec_col), dim)
            bits = (mat @ planes) > 0
            bucket = bits @ weights
            # null / malformed vectors get a NULL bucket (never a bogus one)
            yield batch.append_column(
                "bucket", pa.array(bucket.astype(np.int64), mask=~valid))

    return df.mapInArrow(fn, f"{fields}, bucket bigint")


def query_buckets(query: list[float], dim: int, n_bits: int = 16, seed: int = 4242,
                  hamming: int = 1) -> list[int]:
    """Buckets to probe for a query: its own signature plus all signatures
    within the given Hamming radius (radius 1 → n_bits+1 buckets)."""
    planes = _planes(dim, n_bits, seed)
    q = np.asarray(query, dtype=np.float64)
    bits = (q @ planes) > 0
    base = int((bits * (1 << np.arange(n_bits, dtype=np.int64))).sum())
    out = [base]
    if hamming >= 1:
        out += [base ^ (1 << b) for b in range(n_bits)]
    if hamming >= 2:
        out += [base ^ (1 << b1) ^ (1 << b2) for b1 in range(n_bits) for b2 in range(b1 + 1, n_bits)]
    return out


def embedding_near_duplicates(
    df: DataFrame, dim: int, threshold: float = 0.95,
    n_tables: int = 8, bits_per_table: int = 8, seed: int = 4242,
    vec_col: str = "embedding", id_col: str = "vec_id",
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the multimodal/embedding leg
    of the dedup family. Multi-table random-hyperplane LSH: L independent
    b-bit signatures per vector; candidates = pairs sharing ANY table's
    bucket (for cosine >= 0.95 each hyperplane agrees w.p. ~0.9, so one
    8-bit table recalls ~0.43 and eight tables ~0.99); candidates are then
    EXACTLY verified with a JVM-side cosine, so precision is 1.0 by
    construction and LSH only affects recall.

    Scale: candidates come from the same banded-LSH stage as the MinHash
    path (``textops._band_pairs``: bucketed, never all-pairs; oversized
    buckets hash-thinned); at 100 TB the bucketed table is written once,
    partitioned by (table, bucket)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        planes = [
            _planes(dim, bits_per_table, seed + 1000 * t) for t in range(n_tables)
        ]
        weights = 1 << np.arange(bits_per_table, dtype=np.int64)
        for batch in batches:
            mat, valid = _valid_matrix(batch.column(vec_col), dim)
            out = batch
            for t in range(n_tables):
                sig = (((mat @ planes[t]) > 0) @ weights).astype(np.int64)
                # null signature for null/malformed vectors: _band_pairs
                # drops null buckets, so they can't pair
                out = out.append_column(f"_h{t}", pa.array(sig, mask=~valid))
            yield out

    sig_cols = ", ".join(f"_h{t} bigint" for t in range(n_tables))
    signed = df.select(id_col, vec_col).mapInArrow(
        fn, f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
            f"{vec_col} {df.schema[vec_col].dataType.simpleString()}, {sig_cols}"
    )
    # materialize the signature pass once: every branch below (bucket-size
    # aggregate, capped table, both verify sides) would otherwise re-run the
    # scan + python signature stage. Provably small inputs also broadcast
    # the verify sides; large corpora keep shuffle joins.
    from sketchlib.textops import _band_pairs, _join_pair_sides, _materialize

    signed, small = _materialize(signed, df.select(id_col, vec_col))
    bands = [F.struct(F.lit(t).alias("band"), F.col(f"_h{t}").alias("h")) for t in range(n_tables)]
    stacked = signed.select(id_col, F.explode(F.array(*bands)).alias("bh")).select(
        id_col, "bh.band", "bh.h")
    # candidate pairs carry ids ONLY (a pair surfacing in several tables
    # must not drag two full dim-sized vectors through the distinct's
    # shuffle); the vectors are joined back once for the exact verify, from
    # the materialized table (the signature pass carries them through)
    pair_ids = _band_pairs(stacked, id_col, max_bucket)
    cands, va, vb = _join_pair_sides(pair_ids, signed, id_col, vec_col, small)
    cosine = _dot(va, vb) / (F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb)) + F.lit(1e-30))
    return (
        cands.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
        .distinct()  # the join meets every row of a repeated id
    )


def fit_ivf_centroids(df: DataFrame, dim: int, n_clusters: int = 16,
                      sample: int = 10_000, iters: int = 10, seed: int = 4242,
                      vec_col: str = "embedding", id_col: str = "vec_id") -> np.ndarray:
    """Driver-side mini k-means on a sample (seeded, deterministic given the
    sample). The sample is ordered by ``id_col`` so the fitted centroids — and
    hence ANN results — do not depend on partition layout or cluster size
    (a bare ``limit`` takes whatever partitions answer first). At 100 TB the
    ordered sample is a TakeOrdered (per-partition top-k + driver merge, no
    global sort); the expensive part — assignment — happens once, distributed,
    in ``with_ivf_cluster``."""
    rows = (df.select(id_col, vec_col)
            .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
            .orderBy(id_col).limit(sample).collect())
    if not rows:
        raise ValueError("fit_ivf_centroids: no valid vectors to sample")
    mat = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    # NaN/Inf elements pass the isNotNull + size filters but would poison a
    # centroid mean (and argmax's NaN-stickiness then funnels rows into the
    # poisoned cluster) — drop them here, same validity rule as
    # _valid_matrix on the assignment side
    mat = mat[np.isfinite(mat).all(axis=1)]
    if not mat.shape[0]:
        raise ValueError("fit_ivf_centroids: no finite vectors in sample")
    mat = mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-30)
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(mat.shape[0], size=min(n_clusters, mat.shape[0]), replace=False)]
    for _ in range(iters):
        assign = (mat @ cent.T).argmax(axis=1)
        for c in range(cent.shape[0]):
            members = mat[assign == c]
            if members.shape[0]:
                m = members.mean(axis=0)
                cent[c] = m / (np.linalg.norm(m) + 1e-30)
    return cent


def with_ivf_cluster(df: DataFrame, centroids: np.ndarray,
                     vec_col: str = "embedding") -> DataFrame:
    """Add ``cluster`` = argmax cosine to the centroids (one matmul per
    Arrow batch). At scale, write the table partitioned by this column so
    queries prune to their probe clusters at the scan."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    cent = centroids.copy()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        for batch in batches:
            mat, valid = _valid_matrix(batch.column(vec_col), cent.shape[1])
            mat = mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-30)
            assign = (mat @ cent.T).argmax(axis=1).astype(np.int32)
            yield batch.append_column("cluster", pa.array(assign, mask=~valid))

    return df.mapInArrow(fn, f"{fields}, cluster int")


def ann_topk_ivf(df: DataFrame, query: list[float], dim: int, k: int = 10,
                 n_clusters: int = 16, nprobe: int = 4, seed: int = 4242,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 centroids: np.ndarray | None = None) -> DataFrame:
    """IVF ANN: probe only the ``nprobe`` clusters nearest the query, exact
    cosine inside them. Recall/cost dial = nprobe."""
    cent = centroids if centroids is not None else fit_ivf_centroids(
        df, dim, n_clusters, seed=seed, vec_col=vec_col, id_col=id_col)
    q = np.asarray(query, dtype=np.float64)
    qn = q / (np.linalg.norm(q) + 1e-30)
    probes = np.argsort(-(cent @ qn))[:nprobe].tolist()
    clustered = with_ivf_cluster(df, cent, vec_col)
    cand = clustered.filter(F.col("cluster").isin([int(p) for p in probes]))
    return (
        cand.select(id_col, _cos_expr(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def ann_topk_lsh(df: DataFrame, query: list[float], dim: int, k: int = 10,
                 n_bits: int = 16, seed: int = 4242, hamming: int = 1,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: prune to the query's LSH buckets, then exact cosine.
    At scale the bucketed table is written once (partitioned by bucket) and
    every query reads only its probe buckets — partition pruning does the
    work; here the filter is pushed into the scan."""
    bucketed = with_lsh_bucket(df, dim, n_bits, seed, vec_col)
    probes = query_buckets(query, dim, n_bits, seed, hamming)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return (
        cand.select(id_col, _cos_expr(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )
