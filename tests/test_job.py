"""T5 — checkpoint/resume idempotence and per-partition lineage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sketchlib import agg, datagen, job
from sketchlib.config import BloomConfig, HLLConfig, KLLConfig, SketchConfigError, TDigestConfig


def _job():
    return job.JobSpec(
        specs=(
            agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 18, k=4), "tokens"),
            agg.SketchSpec("hll", HLLConfig(p=11), "tokens"),
            agg.SketchSpec("kll", KLLConfig(k=128), "n_tok"),
        ),
        num_partitions=8,
        salt=7,
        salt_keys=("doc_id",),
    )


@pytest.fixture(scope="module")
def corpus(spark):
    df = datagen.corpus_df(spark, 3_000, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


def _run_killed_after(spark, corpus, j, checkpoint_dir, parts):
    """A run killed right after checkpointing ``parts``: ``job.run`` on the
    rows of those parts appends their partials, and its merged result is
    never collected."""
    kept = job.with_part_id(corpus, j).filter(F.col(job.PART_COL).isin(sorted(parts)))
    job.run(spark, kept.drop(job.PART_COL), j, checkpoint_dir)


def test_resume_after_kill_is_byte_identical(spark, corpus, tmp_path_factory):
    j = _job()
    # uninterrupted reference run
    ref_dir = str(tmp_path_factory.mktemp("ref"))
    ref = agg.collect_blobs(job.run(spark, corpus, j, ref_dir))

    # killed run: only parts {0,1,2} checkpointed, then resume
    kill_dir = str(tmp_path_factory.mktemp("kill"))
    _run_killed_after(spark, corpus, j, kill_dir, {0, 1, 2})
    assert job.completed_parts(spark, kill_dir) == {0, 1, 2}
    resumed = agg.collect_blobs(job.run(spark, corpus, j, kill_dir))
    assert resumed == ref

    # a second resume is a no-op (idempotent) and still identical
    again = agg.collect_blobs(job.run(spark, corpus, j, kill_dir))
    assert again == ref


def test_lineage_records_all_partitions(spark, corpus, tmp_path_factory):
    j = _job()
    d = str(tmp_path_factory.mktemp("lin"))
    job.run(spark, corpus, j, d)
    lin = job.lineage(spark, d)
    rows = lin.collect()
    parts = {r["part"] for r in rows}
    assert parts == set(range(j.num_partitions))
    assert all(r["rows"] > 0 and r["items"] > 0 and r["t_ms"] >= 0 for r in rows)
    assert all(r["blob_bytes"] > 0 for r in rows)
    # every sketch has one partial per partition
    per_sketch = lin.groupBy("sketch").count().collect()
    assert {r["sketch"]: r["count"] for r in per_sketch} == {
        "bloom": 8, "hll": 8, "kll": 8,
    }
    # items conservation: token sketches saw exactly sum(n_tok) tokens
    total_tokens = corpus.agg(F.sum("n_tok")).collect()[0][0]
    hll_items = lin.filter("sketch = 'hll'").agg(F.sum("items")).collect()[0][0]
    assert hll_items == total_tokens


def test_duplicate_partial_appends_are_deduped(spark, corpus, tmp_path_factory):
    """Two racing resumed runs can both append partials for the same part;
    the merge must keep one row per (sketch, group, part) so non-idempotent
    sketches (KLL here) are not double-weighted."""
    j = _job()
    ref_dir = str(tmp_path_factory.mktemp("dedup_ref"))
    ref = agg.collect_blobs(job.run(spark, corpus, j, ref_dir))

    dup_dir = str(tmp_path_factory.mktemp("dedup_dup"))
    _run_killed_after(spark, corpus, j, dup_dir, {0, 1})
    # the racing run's append: part 1's partials land a second time
    part1 = job.with_part_id(corpus, j).filter(F.col(job.PART_COL) == 1)
    agg.build_partials(part1, list(j.specs), num_partitions=j.num_partitions,
                       part_col=job.PART_COL).write.mode("append").parquet(
        job._partials_path(dup_dir))
    kll_rows = spark.read.parquet(job._partials_path(dup_dir)).filter(
        "sketch = 'kll' AND part = 1").count()
    assert kll_rows == 2
    got = agg.collect_blobs(job.run(spark, corpus, j, dup_dir))
    assert got == ref


def test_mismatched_jobspec_rejected(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mm"))
    job.run(spark, corpus, _job(), d)
    other = job.JobSpec(
        specs=(agg.SketchSpec("hll", HLLConfig(p=12), "tokens"),),
        num_partitions=8, salt=7, salt_keys=("doc_id",),
    )
    with pytest.raises(SketchConfigError):
        job.run(spark, corpus, other, d)


def test_salted_partitions_are_balanced(spark, corpus):
    j = _job()
    sizes = (
        job.with_part_id(corpus, j)
        .groupBy(job.PART_COL).count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == j.num_partitions
    mean = sum(counts) / len(counts)
    assert max(counts) < 1.35 * mean and min(counts) > 0.65 * mean


def test_file_job_resume_after_kill_byte_identical(spark, corpus, tmp_path_factory):
    """Fast-path (Arrow file-scan) resume: kill after only some FILES have
    checkpointed partials; a resumed run rebuilds only the missing files and
    the final blobs equal an uninterrupted run's byte-for-byte — also for
    KLL and t-digest, whose bytes depend on the merge tree's shape."""
    src = str(tmp_path_factory.mktemp("filejob_src"))
    corpus.repartition(4).write.mode("overwrite").parquet(src)
    specs = [
        agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 18, k=4), "tokens"),
        agg.SketchSpec("hll", HLLConfig(p=11), "tokens"),
        agg.SketchSpec("kll", KLLConfig(k=128), "n_tok"),
        agg.SketchSpec("tdigest", TDigestConfig(compression=100), "n_tok"),
    ]
    files = agg.list_data_files(spark, src)
    assert len(files) >= 2

    # uninterrupted reference
    ck_ref = str(tmp_path_factory.mktemp("filejob_ref"))
    ref = {(r["sketch"], r["group"]): bytes(r["blob"])
           for r in job.run_files(spark, src, specs, ck_ref).collect()}

    # "killed" run: only file 0's partial written, then resume
    ck = str(tmp_path_factory.mktemp("filejob_kill"))
    job._fs_mkdirs(spark, ck)
    pinned = job.FileJobSpec(specs=tuple(specs), files=tuple(files))
    job._fs_write_text(spark, job._meta_path(ck), pinned.to_json())
    agg.build_partials_files_indexed(spark, [(0, files[0])], specs).write.mode(
        "append").parquet(job._partials_path(ck))
    assert job.completed_parts(spark, ck) <= {0}

    resumed = {(r["sketch"], r["group"]): bytes(r["blob"])
               for r in job.run_files(spark, src, specs, ck).collect()}
    assert resumed == ref
    # lineage shows one partial per non-empty file
    parts = {r["part"] for r in job.lineage(spark, ck).collect()}
    assert parts <= set(range(len(files))) and len(parts) >= 1


def test_file_job_changed_listing_rejected(spark, corpus, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("filejob_src2"))
    corpus.repartition(2).write.mode("overwrite").parquet(src)
    specs = [agg.SketchSpec("hll", HLLConfig(p=11), "tokens")]
    ck = str(tmp_path_factory.mktemp("filejob_meta"))
    job.run_files(spark, src, specs, ck).collect()
    # adding a file changes the pinned listing -> different job
    corpus.limit(10).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(SketchConfigError):
        job.run_files(spark, src, specs, ck)
