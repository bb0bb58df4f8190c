"""T5 — end-to-end Spark pipeline: build/merge over a real DataFrame, grouped
sketches, partition-count invariance through the distributed path, probe
column semantics, and T7 cross-checks against Spark's own JVM sketches."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib import agg, bloom, cms, datagen, fpr, hll, kll, probe, tdigest
from sketchlib.config import (BloomConfig, CMSConfig, HLLConfig, KLLConfig,
                              SketchConfigError, TDigestConfig)

N_DOCS = 6_000


@pytest.fixture(scope="module")
def corpus(spark):
    df = datagen.corpus_df(spark, N_DOCS, partitions=8).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def blobs(spark, corpus):
    specs = [
        agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 21, k=8, word_bits=64, words_per_block=8, sectors=8), "tokens"),
        agg.SketchSpec("hll", HLLConfig(p=14), "tokens"),
        agg.SketchSpec("cms", CMSConfig(eps=0.001, delta=0.01), "tokens"),
        agg.SketchSpec("kll", KLLConfig(k=200), "n_tok"),
        agg.SketchSpec("tdigest", TDigestConfig(compression=100), "n_tok"),
    ]
    return agg.collect_blobs(agg.build_sketches(corpus, specs))


def test_corpus_contract(corpus):
    assert corpus.count() == N_DOCS
    bad = corpus.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0
    assert corpus.filter(F.col("n_tok") < 8).count() == 0
    srcs = {r["source"] for r in corpus.select("source").distinct().collect()}
    assert srcs <= {"web", "books", "code", "wiki"}


def test_datagen_partition_count_invariant(spark):
    a = datagen.corpus_df(spark, 2_000, partitions=1).orderBy("doc_id").collect()
    b = datagen.corpus_df(spark, 2_000, partitions=4).orderBy("doc_id").collect()
    assert a == b


def test_hll_vs_exact_and_jvm(spark, corpus, blobs):
    exact = corpus.select(F.explode("tokens").alias("t")).agg(
        F.countDistinct("t").alias("d")
    ).collect()[0]["d"]
    est = hll.estimate_blob(blobs[("hll", "")])
    assert abs(est - exact) / exact <= 4 * 1.04 / math.sqrt(2**14)
    # T7: agreement with Spark's JVM HLL estimate (both approximate the truth)
    jvm = corpus.select(F.explode("tokens").alias("t")).agg(
        F.expr("approx_count_distinct(t)").alias("d")
    ).collect()[0]["d"]
    assert abs(est - jvm) / exact < 0.1


def test_bloom_no_fn_and_fpr(spark, corpus, blobs):
    blob = blobs[("bloom", "")]
    toks = corpus.select(F.explode("tokens").alias("t")).distinct()
    n_distinct = toks.count()
    probed = probe.with_bloom_membership(toks, blob, "t")
    assert probed.filter(~F.col("member")).count() == 0
    # absent ids: [VOCAB, 2**31) never occur
    absent = spark.range(300_000).select(
        (F.col("id") + datagen.VOCAB).cast("int").alias("t")
    )
    fp = probe.with_bloom_membership(absent, blob, "t").filter("member").count()
    emp = fp / 300_000
    from sketchlib import blob as blobmod

    _, cfg, _ = blobmod.unpack(blob)
    ana = fpr.fpr(cfg, n_distinct)
    sigma = math.sqrt(max(ana, 1e-12) / 300_000)
    assert abs(emp - ana) <= 5 * sigma + 0.1 * ana + 1e-6


def test_cms_vs_exact_and_jvm(spark, corpus, blobs):
    blob = blobs[("cms", "")]
    top = (
        corpus.select(F.explode("tokens").alias("t"))
        .groupBy("t").count().orderBy(F.desc("count")).limit(50).collect()
    )
    ids = np.array([r["t"] for r in top], dtype=np.int64)
    true = np.array([r["count"] for r in top], dtype=np.int64)
    est = cms.query_blob(ids, blob)
    n = cms.total_blob(blob)
    assert (est >= true).all()
    assert (est <= true + 0.001 * n).mean() >= 0.99


def test_kll_tdigest_vs_exact_percentile(spark, corpus, blobs):
    qs = [0.1, 0.5, 0.9]
    exact = corpus.agg(
        F.expr(f"percentile(n_tok, array({','.join(map(str, qs))}))").alias("p")
    ).collect()[0]["p"]
    n = corpus.count()
    vals = np.array([r["n_tok"] for r in corpus.select("n_tok").collect()], dtype=np.float64)
    sorted_v = np.sort(vals)
    for name in ("kll", "tdigest"):
        mod = kll if name == "kll" else tdigest
        est = mod.quantiles_blob(blobs[(name, "")], qs)
        for e, q in zip(est, qs):
            r_lo = np.searchsorted(sorted_v, e, "left") / n
            r_hi = np.searchsorted(sorted_v, e, "right") / n
            err = 0.0 if r_lo <= q <= r_hi else min(abs(r_lo - q), abs(r_hi - q))
            assert err <= 0.02, (name, q, err)


def test_grouped_sketches(spark, corpus):
    final = agg.build_sketches(
        corpus, [agg.SketchSpec("hll_src", HLLConfig(p=12), "tokens")], group_by="source"
    )
    rows = {r["group"]: bytes(r["blob"]) for r in final.collect()}
    assert set(rows) == {"web", "books", "code", "wiki"}
    for src, blob in rows.items():
        exact = (
            corpus.filter(F.col("source") == src)
            .select(F.explode("tokens").alias("t"))
            .agg(F.countDistinct("t").alias("d")).collect()[0]["d"]
        )
        est = hll.estimate_blob(blob)
        assert abs(est - exact) / exact <= 4 * 1.04 / math.sqrt(2**12), src


def test_spark_partition_count_byte_identical(spark, corpus):
    """T4 on the distributed path: the same corpus at different partition
    counts and salts must merge to byte-identical blobs."""
    spec = [
        agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 18, k=4), "tokens"),
        agg.SketchSpec("hll", HLLConfig(p=10), "tokens"),
        agg.SketchSpec("cms", CMSConfig(eps=0.01, delta=0.1), "tokens"),
    ]
    ref = agg.collect_blobs(agg.build_sketches(corpus, spec, num_partitions=2))
    for parts, salt in ((7, 0), (16, 1), (3, 99)):
        got = agg.collect_blobs(
            agg.build_sketches(
                corpus, spec, num_partitions=parts, salt=salt, salt_keys=["doc_id"]
            )
        )
        assert got == ref, (parts, salt)


def test_merge_tree_multilevel_equivalence(spark, corpus):
    """16 HLL partials merged by one-, two- and three-level trees (the shape
    chosen by ``merge_partials`` from its (n_parts, blob_bytes)) give the
    same bytes: the monoid sketches are tree-shape-invariant."""
    spec = [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")]
    partials = agg.build_partials(corpus, spec, num_partitions=16)
    shapes = [(16, 1 << 10), (16, 64 << 20), (64, 128 << 20)]
    assert [agg._tree_shape(n, b)[1] for n, b in shapes] == [1, 2, 3]
    blobs = [agg.collect_blobs(agg.merge_partials(partials, n, b)) for n, b in shapes]
    assert blobs[0] == blobs[1] == blobs[2]


def test_bloom_prune_join_exactness(spark):
    left = spark.range(100_000).select((F.col("id") % 50_000).cast("int").alias("k"))
    right = spark.range(1_000).select((F.col("id") * 7).cast("int").alias("k"))
    right_keys = np.array([r["k"] for r in right.collect()], dtype=np.int32)
    cfg = fpr.suggest_config(right_keys.size, 0.01, block_bits=512, sectors=8)
    blob = bloom.build(right_keys, cfg)
    got = probe.bloom_prune_join(left, right.withColumnRenamed("k", "rk"), "k", blob,
                                 right_key="rk").count()
    want = left.join(right.withColumnRenamed("k", "rk"), F.col("k") == F.col("rk")).count()
    assert got == want
    # join types where the left-side pre-filter would change the answer are
    # rejected: left outer would lose null-extended rows, left_anti would
    # keep only Bloom false positives
    for bad_how in ("left", "left_outer", "full", "left_anti", "leftanti"):
        with pytest.raises(SketchConfigError, match="unsound"):
            probe.bloom_prune_join(left, right.withColumnRenamed("k", "rk"),
                                   "k", blob, how=bad_how, right_key="rk")
    # right outer drops unmatched left rows anyway -> sound and exact
    got_r = probe.bloom_prune_join(left, right.withColumnRenamed("k", "rk"),
                                   "k", blob, how="right", right_key="rk").count()
    want_r = left.join(right.withColumnRenamed("k", "rk"),
                       F.col("k") == F.col("rk"), "right").count()
    assert got_r == want_r


def test_array_column_probe_all_semantics(spark, corpus, blobs):
    """Array-column probe = ALL tokens member; over the source corpus it must
    be all-true (no false negatives)."""
    probed = probe.with_bloom_membership(corpus.limit(500), blobs[("bloom", "")], "tokens")
    assert probed.filter(~F.col("member")).count() == 0


def test_empty_input_and_empty_partitions(spark):
    df = datagen.corpus_df(spark, 100, partitions=1).filter("n_tok < 0")  # empty
    spec = [agg.SketchSpec("hll", HLLConfig(p=8), "tokens")]
    assert agg.build_sketches(df, spec).count() == 0
    # more partitions than rows -> some empty partitions, still correct
    small = datagen.corpus_df(spark, 30, partitions=1).repartition(16)
    blob = agg.collect_blobs(agg.build_sketches(small, spec))[("hll", "")]
    exact = small.select(F.explode("tokens").alias("t")).agg(
        F.countDistinct("t").alias("d")).collect()[0]["d"]
    assert abs(hll.estimate_blob(blob) - exact) / exact < 0.15


def test_hll_sparse_high_cardinality_grouped_build(spark):
    """20k groups at p=18: dense builders would hold 256 KB of registers per
    group (~5 GB total — past the 4 GiB group-memory guardrail); the sparse
    representation keeps small groups at KBs, so the build must pass and
    estimate correctly."""
    df = (
        spark.range(60_000)
        .select((F.col("id") % 20_000).cast("string").alias("g"),
                F.col("id").alias("v"))
        .repartition(8)
    )
    final = agg.build_sketches(
        df, [agg.SketchSpec("h", HLLConfig(p=18), "v")], group_by="g"
    )
    rows = final.collect()
    assert len(rows) == 20_000
    import random

    random.seed(1)
    for r in random.sample(rows, 25):
        est = hll.estimate_blob(bytes(r["blob"]))
        assert abs(est - 3.0) < 0.5, (r["group"], est)  # 3 distinct values/group
        assert len(r["blob"]) < 200  # sparse blob, not 2^18 registers


def test_arrow_scan_fast_path_parity(spark, tmp_path):
    """build_sketches_files (pyarrow file scan) must agree with the
    DataFrame path BYTE-IDENTICALLY for all five sketches (round-4: fixed
    ingest quanta + canonical serialization + permutation-invariant n-ary
    merge closed the kll/tdigest carve-out). The df leg pins one Spark
    partition per file (maxPartitionBytes below file size) so both engines
    see the same per-partition value sequences — the fast path's natural
    layout; with coarser packing the compactor sketches fall back to
    estimate-level parity."""
    path = str(tmp_path / "corpus")
    datagen.corpus_df(spark, 4_000, partitions=6).write.mode("overwrite").parquet(path)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        df = spark.read.parquet(path)
        specs = [
            agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 20, k=8, word_bits=64,
                                                words_per_block=8, sectors=8), "tokens"),
            agg.SketchSpec("hll", HLLConfig(p=12), "tokens"),
            agg.SketchSpec("cms", CMSConfig(eps=0.001, delta=0.01), "tokens"),
            agg.SketchSpec("kll", KLLConfig(k=200), "n_tok"),
            agg.SketchSpec("tdigest", TDigestConfig(compression=100), "n_tok"),
        ]
        ref = agg.collect_blobs(agg.build_sketches(df, specs))
        fast = agg.collect_blobs(agg.build_sketches_files(spark, path, specs))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
    assert set(ref) == set(fast)
    for name in ("bloom", "hll", "cms", "kll", "tdigest"):
        assert ref[(name, "")] == fast[(name, "")], name


def test_arrow_scan_fast_path_grouped_and_deterministic(spark, tmp_path):
    path = str(tmp_path / "corpus_g")
    datagen.corpus_df(spark, 3_000, partitions=5).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    spec = [agg.SketchSpec("hll_g", HLLConfig(p=12), "tokens")]
    ref = agg.collect_blobs(agg.build_sketches(df, spec, group_by="source"))
    fast1 = agg.collect_blobs(agg.build_sketches_files(spark, path, spec, group_by="source"))
    fast2 = agg.collect_blobs(agg.build_sketches_files(spark, path, spec, group_by="source"))
    assert ref == fast1 == fast2  # hll is layout-invariant AND runs repeatable


def test_arrow_scan_fast_path_file_lineage(spark, tmp_path):
    """Partials are keyed by file index — data-derived lineage, one partial
    per (sketch, file)."""
    path = str(tmp_path / "corpus_l")
    datagen.corpus_df(spark, 2_000, partitions=4).write.mode("overwrite").parquet(path)
    files = agg.list_data_files(spark, path)
    assert 1 <= len(files) <= 4 and all(f.endswith(".parquet") for f in files)
    partials = agg.build_partials_files_indexed(
        spark, list(enumerate(files)), [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")]
    ).collect()
    # one partial per NON-EMPTY file, keyed by its index in the sorted listing
    parts = sorted(r["part"] for r in partials)
    assert parts == sorted(set(parts)) and set(parts) <= set(range(len(files)))
    assert sum(r["rows"] for r in partials) == 2_000


def test_build_sketches_files_rejects_empty_listing(spark, tmp_path):
    """A missing or empty input path is a typed error, like ``job.run_files``,
    not an empty result after a Spark job."""
    spec = [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")]
    (tmp_path / "empty").mkdir()
    for path in (str(tmp_path / "missing"), str(tmp_path / "empty"), []):
        with pytest.raises(SketchConfigError, match="no parquet data files"):
            agg.build_sketches_files(spark, path, spec)


def test_tree_shape_table():
    """The one merge-tree policy: fanout = 256 MiB // blob_bytes clamped to
    [4, 4096], depth = least with fanout**depth >= n_parts. Batch callers
    size from ``SketchSpec.payload_bytes``, the stream reader from the
    largest blob it reads."""
    hll12 = agg.SketchSpec("hll", HLLConfig(p=12), "tokens").payload_bytes
    bloom30 = agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 30, k=8, word_bits=64,
                                                  words_per_block=8, sectors=8),
                             "tokens").payload_bytes
    assert (hll12, bloom30) == (1 << 12, 1 << 27)
    table = [
        (8, hll12, (4096, 1)),            # KB blobs: one-level merge (max clamp)
        (5000, hll12, (4096, 2)),
        (0, hll12, (4096, 1)),            # no partials still merges once
        (2, bloom30, (4, 1)),             # 128 MiB Bloom partials: min clamp
        (16, bloom30 + 64, (4, 2)),       # a 128 MiB stream blob with header
        (64, 64 << 20, (4, 3)),
        (256, 1 << 20, (256, 1)),
        (257, 1 << 20, (256, 2)),
    ]
    for n_parts, blob_bytes, shape in table:
        assert agg._tree_shape(n_parts, blob_bytes) == shape, (n_parts, blob_bytes)


def test_null_group_values_sketch_under_null_label(spark):
    """SQL groupBy keeps a NULL group; the kernel must too (previously
    np.unique over an object array mixing str and None raised TypeError and
    killed every task with a null group in its batch)."""
    from sketchlib.config import CMSConfig

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (2, None)], "v long, g string")
    specs = [agg.SketchSpec("cms", CMSConfig(eps=0.01, delta=0.01), "v")]
    out = agg.collect_blobs(agg.build_sketches(df, specs, group_by="g"))
    assert set(out) == {("cms", "a"), ("cms", agg.NULL_GROUP)}
    est = cms.query_blob(np.array([2]), out[("cms", agg.NULL_GROUP)])
    assert int(est[0]) == 2


def test_null_part_col_raises_typed_error(spark):
    from sketchlib.config import CMSConfig, SketchConfigError

    df = spark.createDataFrame(
        [(1, 0), (2, None)], "v long, p long")
    specs = [agg.SketchSpec("cms", CMSConfig(eps=0.01, delta=0.01), "v")]
    with pytest.raises(Exception) as ei:
        agg.build_partials(df, specs, part_col="p").collect()
    assert "part_col" in str(ei.value)


def test_null_list_elements_dropped(spark):
    """Null elements inside array columns must be dropped, not promoted to
    NaN float64 and fed to builders as garbage keys."""
    from sketchlib.config import HLLConfig

    df_null = spark.createDataFrame(
        [([1, None, 2],), ([None],), ([3, 4],), ([],)],
        "toks array<long>")
    df_clean = spark.createDataFrame(
        [([1, 2],), ([3, 4],)], "toks array<long>")
    specs = [agg.SketchSpec("hll", HLLConfig(p=12), "toks")]
    got = agg.collect_blobs(agg.build_sketches(df_null.coalesce(1), specs))
    want = agg.collect_blobs(agg.build_sketches(df_clean.coalesce(1), specs))
    assert got[("hll", "")] == want[("hll", "")]


def test_list_to_flat_null_elements_unit():
    import pyarrow as pa

    from sketchlib import arrowutil

    arr = pa.array([[1, None, 2], [], [None], [3]], pa.list_(pa.int64()))
    values, starts = arrowutil.list_to_flat(arr)
    assert values.dtype.kind == "i"
    assert values.tolist() == [1, 2, 3]
    assert starts.tolist() == [0, 2, 2, 2]


def test_uint64_parquet_column_fast_path(spark, tmp_path):
    """A parquet UINT64 column through the pyarrow file fast path must build
    (np.bincount refuses uint64; int64*uint64 promotes to float64)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.config import CMSConfig

    path = str(tmp_path / "u64")
    os.makedirs(path, exist_ok=True)
    tbl = pa.table({
        "v": pa.array([1, 2, 2, 3, 3, 3] * 100, pa.uint64()),
        "g": pa.array((["x"] * 3 + ["y"] * 3) * 100),
    })
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
    specs = [agg.SketchSpec("cms", CMSConfig(eps=0.01, delta=0.01), "v")]
    # global (ungrouped) histogram path
    out = agg.collect_blobs(agg.build_sketches_files(spark, path, specs))
    assert int(cms.query_blob(np.array([3]), out[("cms", "")])[0]) == 300
    # grouped packed-histogram path
    outg = agg.collect_blobs(
        agg.build_sketches_files(spark, path, specs, group_by="g"))
    assert int(cms.query_blob(np.array([1]), outg[("cms", "x")])[0]) == 100


def test_null_group_values_numeric_column(spark):
    """A NUMERIC group column with nulls: Arrow's to_numpy coerces ints to
    float64 (so the same group would label "1.0" in a null-carrying batch
    but "1" in a clean one — splitting it in the final output) and
    np.unique cannot sort None/NaN-mixed object arrays (NaN poisons the
    sort, degrading every row to its own segment). The per-row normalize
    path must keep labels identical to the null-free path."""
    from sketchlib.config import CMSConfig

    specs = [agg.SketchSpec("cms", CMSConfig(eps=0.01, delta=0.01), "v")]
    df = spark.createDataFrame(
        [(1, 1), (2, None), (3, 1), (2, None), (5, 2)], "v long, g long")
    out = agg.collect_blobs(
        agg.build_sketches(df.coalesce(1), specs, group_by="g"))
    assert set(out) == {("cms", "1"), ("cms", "2"), ("cms", agg.NULL_GROUP)}
    est = cms.query_blob(np.array([2]), out[("cms", agg.NULL_GROUP)])
    assert int(est[0]) == 2
    # the same group split across a null-carrying and a null-free PARTITION
    # must merge under one label
    a = spark.createDataFrame([(1, 1), (2, None)], "v long, g long").coalesce(1)
    b = spark.createDataFrame([(3, 1)], "v long, g long").coalesce(1)
    out2 = agg.collect_blobs(agg.build_sketches(a.union(b), specs, group_by="g"))
    assert set(out2) == {("cms", "1"), ("cms", agg.NULL_GROUP)}
    est1 = cms.query_blob(np.array([1, 3]), out2[("cms", "1")])
    assert int(est1[0]) == 1 and int(est1[1]) == 1


def test_list_data_files_plain_file_path(spark, tmp_path):
    """A single-file table path lists as itself (os.walk returned [] for a
    non-directory, silently yielding an empty build)."""
    d = str(tmp_path / "single")
    datagen.corpus_df(spark, 100, partitions=1).write.mode("overwrite").parquet(d)
    inner = agg.list_data_files(spark, d)
    assert len(inner) == 1
    plain = inner[0][len("file:"):]
    assert agg.list_data_files(spark, plain) == inner
    assert agg.list_data_files(spark, plain, suffix=".orc") == []


def test_file_scan_build_plain_file_matches_directory(spark, tmp_path):
    """build_sketches_files over the bare data file == over its directory
    (Bloom blobs are OR-merge layout-invariant)."""
    d = str(tmp_path / "single2")
    datagen.corpus_df(spark, 500, partitions=1).write.mode("overwrite").parquet(d)
    f = agg.list_data_files(spark, d)[0]
    spec = [agg.SketchSpec("bloom", BloomConfig(
        m_bits=1 << 16, k=4, word_bits=64, words_per_block=8, sectors=1), "tokens")]
    via_dir = agg.collect_blobs(agg.build_sketches_files(spark, d, spec))
    via_file = agg.collect_blobs(agg.build_sketches_files(spark, f, spec))
    assert via_dir == via_file


def test_probe_chain_marks_output_and_skips_recoalesce(spark, corpus):
    """Chained probes skip the per-call partition-count read: the probe
    output carries the "coalesce check done" marker and passes through the
    coalesce helper untouched (withColumn cannot change the partitioning).
    Any transformation in between drops the marker by design, and the next
    probe makes the check again with unchanged results."""
    spec = [agg.SketchSpec("bloom", BloomConfig(
        m_bits=1 << 18, k=4, word_bits=64, words_per_block=8, sectors=1), "tokens")]
    blob = agg.collect_blobs(agg.build_sketches(corpus, spec))[("bloom", "")]
    keys = corpus.select(F.explode("tokens").alias("t")).limit(1000)
    p1 = probe.with_bloom_membership(keys, blob, "t", "m1")
    assert getattr(p1, "_sketchlib_coalesce_checked", False)
    assert probe._coalesce_for_probe(p1) is p1
    # token ids are non-negative: the filter keeps every row
    mid = p1.filter(F.col("t") >= 0)
    assert not getattr(mid, "_sketchlib_coalesce_checked", False)
    # the probe after the filter re-checks and agrees row for row
    p2 = probe.with_bloom_membership(mid, blob, "t", "m2")
    assert getattr(p2, "_sketchlib_coalesce_checked", False)
    rows = p2.select("m1", "m2").collect()
    assert len(rows) == p1.count()
    assert rows and all(r["m1"] == r["m2"] for r in rows)
