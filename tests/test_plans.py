"""Physical-plan checks: the things that must hold at 100 TB — column
pruning reaching the parquet scan, filter pushdown, broadcast joins for
small dims, no extra shuffles in the partial-build path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sketchlib import agg, datagen
from sketchlib.config import HLLConfig

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan_corpus"))
    datagen.corpus_df(spark, 2_000, partitions=2).write.mode("overwrite").parquet(p)
    return p


def test_partial_build_prunes_columns(spark, corpus_path):
    corpus = spark.read.parquet(corpus_path)
    partials = agg.build_partials(corpus, [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")])
    plan = _plan(partials)
    assert "ReadSchema" in plan
    # only the tokens column must be read — doc_id/source pruned at the scan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "tokens" in read_schema
    assert "doc_id" not in read_schema and "source" not in read_schema


def test_filter_pushdown_reaches_scan(spark, corpus_path):
    corpus = spark.read.parquet(corpus_path).filter(F.col("source") == "web")
    partials = agg.build_partials(corpus, [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")])
    plan = _plan(partials)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "source" in pushed[0], pushed


def test_no_shuffle_in_default_partial_build(spark, corpus_path):
    corpus = spark.read.parquet(corpus_path)
    partials = agg.build_partials(corpus, [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")])
    assert "Exchange" not in _plan(partials)


def test_merge_tree_is_arrow_grouped_map(spark, corpus_path):
    """Every merge-tree level is an Arrow grouped map: blob columns go to
    the fold as Arrow, never through pandas. Sixteen partials of 128 MiB
    (fanout 4) make a two-level tree, so both the bucketed level and the
    final level show."""
    corpus = spark.read.parquet(corpus_path)
    partials = agg.build_partials(
        corpus, [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")], num_partitions=4)
    final = agg.merge_partials(partials, 16, 128 << 20)
    plan = _plan(final)
    # formatted plans echo each node in the tree and in the details: count
    # the "(n) FlatMapGroupsInArrow" detail headers
    assert plan.count(") FlatMapGroupsInArrow") == 2, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as entrymod

    q = entrymod.q04_customer_nation_region(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_probe_has_no_shuffle(spark, corpus_path):
    import numpy as np
    from sketchlib import bloom, fpr, probe

    keys = np.arange(1000, dtype=np.int32)
    blob = bloom.build(keys, fpr.suggest_config(1000, 0.01))
    df = spark.read.parquet(corpus_path)
    probed = probe.with_bloom_membership(df.select("n_tok"), blob, "n_tok")
    assert "Exchange" not in _plan(probed)


def test_probe_ships_only_key_column_to_python(spark, corpus_path):
    """Probing a WIDE table must not round-trip non-key columns through the
    Python worker: the plan node is a scalar ArrowEvalPython over the key
    column only (the old mapInArrow formulation shipped the entire schema —
    a scale-killer on a 100 TB corpus table)."""
    import numpy as np
    from sketchlib import bloom, fpr, probe

    keys = np.arange(1000, dtype=np.int32)
    blob = bloom.build(keys, fpr.suggest_config(1000, 0.01))
    df = spark.read.parquet(corpus_path)  # doc_id, tokens, n_tok, source
    probed = probe.with_bloom_membership(df, blob, "n_tok")
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "MapInArrow" not in plan
    eval_lines = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert eval_lines, plan
    # only n_tok enters the Python exchange — the wide columns stay JVM-side
    for ln in eval_lines:
        assert "n_tok" in ln, ln
        for other in ("doc_id", "tokens", "source"):
            assert other not in ln, ln


def test_file_scan_fast_path_shuffles_only_file_paths(spark, corpus_path):
    """The Arrow file-scan build shuffles NO data at all in its scan stage:
    the file list rides in the task closure over a JVM range driver (one
    balanced wave of tasks), and the token data is decoded inside the task
    that owns the file. (Before round 6 the plan had one exchange for a tiny
    (idx, path) table plus a python-backed createDataFrame stage.)"""
    from sketchlib import agg
    from sketchlib.config import HLLConfig

    files = agg.list_data_files(spark, corpus_path)
    partials = agg.build_partials_files_indexed(
        spark, list(enumerate(files)), [agg.SketchSpec("hll", HLLConfig(p=10), "tokens")])
    plan = _plan(partials)
    assert "Exchange" not in plan, plan
    assert "Range" in plan, plan


def test_approx_topk_single_input_scan(spark, corpus_path):
    """approx_topk fuses candidate generation and the CMS build into ONE
    mapInArrow pass (round-3 VERDICT item 5: the old two-sided form scanned
    the 100 TB input twice). The fused DataFrame plan reads the input once,
    and once persisted both downstream sides hit the in-memory cache."""
    from pyspark.sql import functions as F

    from sketchlib import topk
    from sketchlib.config import CMSConfig

    corpus = spark.read.parquet(corpus_path)
    fused = topk._fused_scan(corpus, "tokens", 64, CMSConfig(eps=0.01, delta=0.01))
    plan = _plan(fused)
    # exactly one scan NODE (formatted plans echo each node once in the tree
    # and once in the detail section — count the "(n) Scan parquet" headers)
    assert plan.count(") Scan parquet") == 1, plan
    assert "MapInArrow" in plan

    fused = fused.persist()
    try:
        fused.count()  # materialize the cache
        cand_plan = _plan(fused.where(F.col("blob").isNull()).groupBy("value").count())
        part_plan = _plan(fused.where(F.col("blob").isNotNull()))
        # both sides read the cache (the InMemoryRelation node echoes the
        # original scan in its description — that text is not a re-read)
        assert "InMemoryTableScan" in cand_plan, cand_plan
        assert "InMemoryTableScan" in part_plan, part_plan
    finally:
        fused.unpersist()


def test_near_dup_joins_never_cartesian(spark):
    """The near-dup pipelines (minhash text, token-array, simhash,
    embedding) group candidates by band/bucket key and join only on ids — a
    CartesianProduct or BroadcastNestedLoopJoin here is the all-pairs blowup
    the banding exists to avoid, and would be fatal at 100 TB."""
    from sketchlib import simsearch, textops

    docs = spark.createDataFrame(
        [(str(i), "the quick brown fox jumps over dog %d" % i) for i in range(60)],
        "doc_id string, text string")
    toks = spark.createDataFrame(
        [(str(i), [j % 97 for j in range(i, i + 40)]) for i in range(60)],
        "doc_id string, tokens array<int>")
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 11) for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>")
    plans = {
        "minhash": _plan(textops.minhash_near_duplicates(docs)),
        "token": _plan(textops.token_near_duplicates(toks)),
        "simhash": _plan(textops.simhash_near_duplicates(docs)),
        "embedding": _plan(simsearch.embedding_near_duplicates(vecs, dim=8)),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_chained_probes_fuse_into_one_python_node(spark, corpus_path):
    """Independent membership probes over the same key column must collapse
    into ONE ArrowEvalPython node (Catalyst batches independent arrow UDFs),
    so a multi-config probe pass — sk_bloom_fpr_grid chains nine — costs one
    python round trip per batch instead of one node (and one job) per config."""
    import numpy as np
    from sketchlib import bloom, fpr, probe

    df = spark.read.parquet(corpus_path).select("n_tok")
    for i in range(3):
        keys = np.arange(1000 * (i + 1), dtype=np.int32)
        blob = bloom.build(keys, fpr.suggest_config(len(keys), 0.01))
        df = probe.with_bloom_membership(df, blob, "n_tok", f"_m{i}")
    agg_df = df.agg(*[F.count(F.when(F.col(f"_m{i}"), 1)).alias(f"c{i}")
                      for i in range(3)])
    plan = agg_df._jdf.queryExecution().executedPlan().toString()
    eval_lines = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(eval_lines) == 1, plan
    assert eval_lines[0].count("probe(") == 3, eval_lines[0]
