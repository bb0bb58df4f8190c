"""Deterministic synthetic corpus generator (FIXTURES.md F1).

Schema per the input hint (BASELINE.json:15):
``doc_id:string, tokens:array<int32>, n_tok:int32, source:string``.

Generation is chunked: the corpus is defined as fixed 2,000-doc chunks, chunk
``i`` seeded ``seed * 10_007 + i`` — so the content is a pure function of
(n_docs, seed), independent of Spark partition count. Token ids are
Zipf(s=1.2) over V = 2**17 (rejection-clipped), doc lengths clipped lognormal,
sources skewed {web .70, books .15, code .10, wiki .05} — the token-frequency
and group skew that salting / AQE must handle.

Distributed generation: ``mapInArrow`` over a ``spark.range`` of chunk ids —
no driver-side materialization at any scale.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from sketchlib import _worker

VOCAB = 1 << 17
CHUNK_DOCS = 2_000
ZIPF_S = 1.2
SOURCES = np.array(["web", "books", "code", "wiki"])
SOURCE_P = np.array([0.70, 0.15, 0.10, 0.05])

ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)
SPARK_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _zipf_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    got = 0
    while got < n:
        draw = rng.zipf(ZIPF_S, int((n - got) * 1.3) + 16)
        draw = draw[draw < VOCAB]  # rejection-clip to [1, V-1] -> shift to [0, V-2]
        take = min(draw.size, n - got)
        out[got : got + take] = draw[:take] - 1
        got += take
    return out.astype(np.int32)


def make_chunk(chunk_id: int, seed: int = 42, n_docs: int = CHUNK_DOCS) -> pa.RecordBatch:
    """One deterministic chunk of the corpus as an Arrow batch."""
    rng = np.random.default_rng(seed * 10_007 + chunk_id)
    lens = np.clip(
        np.round(rng.lognormal(mean=np.log(300.0), sigma=0.8, size=n_docs)), 8, 4096
    ).astype(np.int64)
    total = int(lens.sum())
    tokens = _zipf_tokens(rng, total)
    offsets = np.r_[0, np.cumsum(lens)].astype(np.int32)
    src = SOURCES[rng.choice(len(SOURCES), size=n_docs, p=SOURCE_P)]
    base = chunk_id * CHUNK_DOCS
    doc_ids = np.array([f"doc{base + i:010d}" for i in range(n_docs)], dtype=object)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, type=pa.string()),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens, type=pa.int32())),
            pa.array(lens.astype(np.int32)),
            pa.array(src, type=pa.string()),
        ],
        schema=ARROW_SCHEMA,
    )


def corpus_df(spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus of ``n_docs`` documents."""
    n_chunks = -(-n_docs // CHUNK_DOCS)
    last = n_docs - (n_chunks - 1) * CHUNK_DOCS
    parts = partitions or min(n_chunks, max(spark.sparkContext.defaultParallelism, 1))
    ids = spark.range(0, n_chunks, numPartitions=parts)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _worker.drop_spark_zip_finders()
        for batch in batches:
            for cid in batch.column("id").to_pylist():
                nd = last if cid == n_chunks - 1 else CHUNK_DOCS
                yield make_chunk(int(cid), seed=seed, n_docs=nd)

    return ids.mapInArrow(gen, SPARK_SCHEMA)


def corpus_parquet(spark: SparkSession, n_docs: int, cache_dir: str, seed: int = 42,
                   partitions: int | None = None) -> str:
    """Materialize (once) and return the path of a corpus parquet — bench runs
    read from disk so generation cost never pollutes throughput numbers."""
    path = os.path.join(cache_dir, f"corpus_n{n_docs}_s{seed}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        corpus_df(spark, n_docs, seed, partitions).write.mode("overwrite").parquet(path)
    return path

