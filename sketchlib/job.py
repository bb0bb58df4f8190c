"""Resumable, checkpointed sketch-build jobs with per-partition lineage.

North-rule requirements (BASELINE.json:14): jobs are resumable from
per-partition sketch checkpoints, with lineage and metrics recorded per
partition, and token-frequency skew handled via salted repartitioning.

Mechanism:

1. Rows get a **deterministic logical partition id**
   ``part_id = pmod(xxhash64(salt_keys..., salt), P)`` — pure data function,
   independent of physical layout, cluster size, or execution order. Salting
   by high-cardinality keys (``doc_id``) equalizes partition sizes no matter
   how skewed the upstream file layout or token distribution is.
2. Partial sketches are built per logical partition (``agg.build_partials``
   with ``part_col``) and appended to ``<ckpt>/partials`` parquet with
   lineage columns ``(sketch, group, part, blob, rows, items, t_ms)``.
3. On (re)start, completed part ids are read back; only rows whose part id is
   missing are rebuilt (anti-join as a hash-set filter — P is small). A run
   killed after writing some partials resumes where it stopped, and because
   every sketch merge is a commutative monoid over deterministic partials,
   the resumed result is byte-identical to a single uninterrupted run (T5).
4. ``_resume``, the one checkpoint loop of ``run`` and ``run_files``, then
   tree-merges one row per (sketch, group, part) into final blobs.

At 100 TB / 1000 executors: P is chosen so one logical partition is a few GB
of tokens; the checkpoint write is P blob rows (KB–MB each); resume cost is
one scan with a pushed-down filter on a derived column — no shuffle of
already-done data.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketchlib import agg
from sketchlib.agg import SketchSpec
from sketchlib.config import SketchConfigError, _Cfg

PART_COL = "_sk_part"


@dataclass(frozen=True)
class JobSpec:
    specs: tuple[SketchSpec, ...]
    num_partitions: int
    salt: int
    salt_keys: tuple[str, ...]
    group_by: str | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "specs": [
                    {"name": s.name, "cfg": s.cfg.to_json(), "col": s.col} for s in self.specs
                ],
                "num_partitions": self.num_partitions,
                "salt": self.salt,
                "salt_keys": list(self.salt_keys),
                "group_by": self.group_by,
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "JobSpec":
        d = json.loads(s)
        return JobSpec(
            specs=tuple(
                SketchSpec(x["name"], _Cfg.from_json(x["cfg"]), x["col"]) for x in d["specs"]
            ),
            num_partitions=d["num_partitions"],
            salt=d["salt"],
            salt_keys=tuple(d["salt_keys"]),
            group_by=d["group_by"],
        )


def with_part_id(df: DataFrame, job: JobSpec) -> DataFrame:
    cols = [F.col(c) for c in job.salt_keys] + [F.lit(job.salt)]
    return df.withColumn(
        PART_COL, F.pmod(F.xxhash64(*cols), F.lit(job.num_partitions)).cast("int")
    )


def _partials_path(ckpt: str) -> str:
    return os.path.join(ckpt, "partials")


def _meta_path(ckpt: str) -> str:
    return os.path.join(ckpt, "job.json")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) via the JVM Hadoop API — works for file://, hdfs://,
    s3a://, … The checkpoint dir on a real cluster is object storage; driver-
    local ``os.path`` calls would silently see nothing there and re-run the
    whole job, appending duplicate partials."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    fs.mkdirs(jpath)


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        # JVM-side drain (py4j passes byte buffers by value, so a Python-side
        # read loop would see only zeros); commons-io ships with Spark
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()


def completed_parts(spark: SparkSession, ckpt: str) -> set[int]:
    path = _partials_path(ckpt)
    if not _fs_exists(spark, path):
        return set()
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(path).select("part").distinct().collect()
    except AnalysisException as e:
        # Only the "directory exists but holds no committed parquet yet"
        # case (killed before first commit) legitimately means zero parts.
        # Any other failure must PROPAGATE: treating a transient read error
        # as "nothing done" would rebuild everything and append duplicate
        # partials, double-counting the non-idempotent sketches.
        if "infer schema" in str(e).lower() or "path does not exist" in str(e).lower():
            return set()
        raise
    return {r["part"] for r in rows}


def _resume(spark: SparkSession, checkpoint_dir: str, meta_json: str, build_missing,
            n_parts: int, specs: tuple[SketchSpec, ...]) -> DataFrame:
    """The one checkpoint loop: pin (or check) the job meta, append the
    partials ``build_missing(done part ids)`` returns (``None`` when nothing
    is missing), then tree-merge every checkpointed partial."""
    _fs_mkdirs(spark, checkpoint_dir)
    meta_p = _meta_path(checkpoint_dir)
    if not _fs_exists(spark, meta_p):
        _fs_write_text(spark, meta_p, meta_json)
    elif _fs_read_text(spark, meta_p) != meta_json:
        raise SketchConfigError(
            f"checkpoint at {checkpoint_dir} was created by a different job spec "
            "(sketches, grouping, partitioning or input file listing changed)")
    missing = build_missing(completed_parts(spark, checkpoint_dir))
    if missing is not None:
        missing.write.mode("append").parquet(_partials_path(checkpoint_dir))
    # Duplicate appends for the same (sketch, group, part) — e.g. two racing
    # resumed runs that both saw the part missing — are byte-identical by
    # determinism, so one-row-per-key makes the merge exact no matter how
    # many times a partial landed.
    partials = spark.read.parquet(_partials_path(checkpoint_dir)).dropDuplicates(
        ["sketch", "group", "part"])
    return agg.merge_partials(partials, n_parts, max(s.payload_bytes for s in specs))


def run(
    spark: SparkSession,
    df: DataFrame,
    job: JobSpec,
    checkpoint_dir: str,
) -> DataFrame:
    """Build (or resume) the job; returns the final merged sketch DataFrame.

    Safe to call repeatedly: each call completes any missing partials, then
    merges. The partials parquet is the durable unit of progress."""

    def build_missing(done: set[int]) -> DataFrame | None:
        remaining = set(range(job.num_partitions)) - done
        if not remaining:
            return None
        src = with_part_id(df, job)
        if done:
            # partition pruning on the derived id: only missing parts rescan
            src = src.filter(F.col(PART_COL).isin([int(p) for p in remaining]))
        return agg.build_partials(
            src, list(job.specs), group_by=job.group_by,
            num_partitions=min(job.num_partitions, 2048), part_col=PART_COL)

    return _resume(spark, checkpoint_dir, job.to_json(), build_missing,
                   job.num_partitions, job.specs)


def lineage(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Per-partition lineage & metrics: rows/items/build-ms per (sketch,
    group, part) — the audit trail the north rule asks for."""
    return (
        spark.read.parquet(_partials_path(checkpoint_dir))
        .select("sketch", "group", "part", "rows", "items", "t_ms",
                F.length("blob").alias("blob_bytes"))
        .orderBy("sketch", "group", "part")
    )


@dataclass(frozen=True)
class FileJobSpec:
    """Job spec for the Arrow file-scan fast path: the unit of checkpointed
    progress is one input FILE (lineage id = index in the pinned sorted
    file listing — data-derived, stable under cluster resizing)."""

    specs: tuple[SketchSpec, ...]
    files: tuple[str, ...]
    group_by: str | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "specs": [
                    {"name": s.name, "cfg": s.cfg.to_json(), "col": s.col} for s in self.specs
                ],
                "files": list(self.files),
                "group_by": self.group_by,
            },
            sort_keys=True,
        )


def run_files(
    spark: SparkSession,
    path: str,
    specs: list[SketchSpec],
    checkpoint_dir: str,
    group_by: str | None = None,
) -> DataFrame:
    """Resumable fast-path build: pyarrow file scan, one durable partial per
    (sketch[, group], file). The file listing is PINNED in the job meta on
    first run, so a resume sees the same lineage ids even if files were
    added to the directory since (a changed listing is a different job).
    Re-runs only missing file indices; duplicate appends from racing resumes
    dedup exactly (byte-identical by determinism). Files with zero rows
    yield no partial and are harmlessly re-scanned on resume (empty scan)."""
    files = tuple(agg.list_data_files(spark, path))
    if not files:
        # mirror build_sketches_files: fail here with a typed error instead
        # of a raw AnalysisException on the nonexistent partials dir later
        raise SketchConfigError(f"no parquet data files under {path}")
    job = FileJobSpec(specs=tuple(specs), files=files, group_by=group_by)

    def build_missing(done: set[int]) -> DataFrame | None:
        remaining = [(i, f) for i, f in enumerate(files) if i not in done]
        if not remaining:
            return None
        return agg.build_partials_files_indexed(spark, remaining, list(specs), group_by)

    return _resume(spark, checkpoint_dir, job.to_json(), build_missing, len(files), job.specs)
