"""Structured Streaming integration: windowed sketch aggregation.

The sketches are streaming-ready by construction — every one is a commutative
monoid, so per-micro-batch partials merge exactly, and late data is just
another partial for an existing window (no rollback needed, unlike
non-mergeable aggregates).

``sketch_sink`` returns a ``foreachBatch`` function that builds per-partition
partials for each (event-time window[, group]) in the micro-batch and appends
them to a partials parquet — the same durable layout as ``sketchlib.job``
checkpoints. ``read_windowed_sketches`` tree-merges that parquet into one
blob per (sketch, window[, group]) at read time; estimates are computed with
the usual blob functions.

This is deliberately the Kappa shape (append monoid partials, merge on read):
at 100 TB/day the partials table is tiny (P blobs per window), the stream
never shuffles, and replays/backfills are idempotent appends. A
``transformWithStateInPandas`` operator could keep merged state inside the
stream instead; the monoid contract is what makes either correct.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketchlib import _worker, agg
from sketchlib.agg import SketchSpec


WINDOW_COL = "_sk_window"


def _with_window(df: DataFrame, ts_col: str, window: str) -> DataFrame:
    """Label each row with its event-time window start, rendered in UTC.

    Rendering must NOT depend on ``spark.sql.session.timeZone``: a writer and
    a later backfill/reader with different session zones would otherwise
    split one event window into two labels (or collide two windows). The
    ``to_utc_timestamp(ts, current_timezone())`` idiom makes ``date_format``
    emit the UTC wall time whatever the session zone is.

    Rows with a null event time are dropped — the engine's own windowed
    aggregation does the same (a null timestamp belongs to no window);
    without the filter they would silently mislabel as bare group labels
    through the null-skipping ``concat_ws`` in the sink."""
    w = F.window(F.col(ts_col), window)
    return df.where(F.col(ts_col).isNotNull()).withColumn(
        WINDOW_COL,
        F.date_format(F.to_utc_timestamp(w["start"], F.current_timezone()),
                      "yyyy-MM-dd HH:mm:ss"),
    )


def _series_values(vals, np, pd):
    """Null-safe flatten of a pandas value Series for the stateful operators:
    null rows are dropped, per-row arrays are concatenated (detected on the
    first non-null value — the column type is fixed Spark-side), and null
    ELEMENTS inside arrays (object dtype / NaN floats) are scrubbed before
    the builder casts to int."""
    vals = vals.dropna()
    if len(vals) == 0:
        return np.empty(0, np.int64)
    first = vals.iloc[0]
    if hasattr(first, "__len__") and not isinstance(first, (str, bytes)):
        flat = np.concatenate([np.asarray(v) for v in vals])
    else:
        flat = vals.to_numpy()
    if flat.dtype == object:
        flat = flat[pd.notna(flat)].astype(np.int64)
    elif flat.dtype.kind == "f" and np.isnan(flat).any():
        flat = flat[~np.isnan(flat)]
    return flat


def _epoch_ms(ts, tz: str) -> int:
    """Epoch milliseconds of a window-boundary pandas Timestamp. Spark hands
    the key to pandas as a tz-NAIVE session-local wall time; ``.timestamp()``
    on a naive value assumes UTC, shifting timers by the session zone's UTC
    offset (a timeout below the watermark kills the query). Localize in the
    session zone captured at operator-build time first."""
    if ts.tzinfo is None:
        ts = ts.tz_localize(tz, ambiguous=True, nonexistent="shift_forward")
    return int(ts.timestamp() * 1000)


def sketch_sink(
    specs: list[SketchSpec],
    out_dir: str,
    ts_col: str,
    window: str = "10 minutes",
    group_by: str | None = None,
):
    """``foreachBatch`` function: micro-batch -> windowed partials parquet.

    The window label is folded into the partial's ``group`` column as
    ``"<window start>|<group>"`` so the whole agg/merge machinery applies
    unchanged; ``part`` is the micro-batch id (lineage: which batch
    contributed which partial)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        windowed = _with_window(batch_df, ts_col, window)
        if group_by is not None:
            windowed = windowed.withColumn(
                WINDOW_COL, F.concat_ws("|", F.col(WINDOW_COL), F.col(group_by))
            )
        partials = agg.build_partials(windowed, specs, group_by=WINDOW_COL)
        # foreachBatch is at-least-once: a replayed micro-batch re-delivers the
        # same batch_id with the same source offsets, so its partials are
        # byte-identical — writing partitionBy(batch=batch_id) with DYNAMIC
        # partition overwrite makes the replay idempotent (it replaces its own
        # directory instead of appending duplicates that would double-count
        # the non-idempotent sketches: CMS counters, KLL/t-digest weights).
        # ``part`` keeps the per-partition partial id (a micro-batch emits one
        # partial per input partition); ``batch`` is the lineage key.
        (partials.withColumn("batch", F.lit(batch_id).cast("long"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch")
         .parquet(os.path.join(out_dir, "partials")))

    return sink


def read_windowed_sketches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge the streamed partials into one row per (sketch, window[, group]).
    The ``group`` column carries the window label written by the sink.

    Defense-in-depth against duplicate partials (e.g. a sink crash between
    partition commits): partials for the same (sketch, group, batch, part)
    are byte-identical by determinism (same source offsets => same data), so
    keeping one row per key is exact — never double-counted."""
    partials = spark.read.parquet(os.path.join(out_dir, "partials"))
    if "batch" in partials.columns:
        partials = partials.dropDuplicates(["sketch", "group", "batch", "part"]).drop("batch")
    else:
        # legacy append-mode layout (pre-batch-lineage sink, commit
        # 802596a): that sink OVERWROTE ``part`` with the micro-batch id, so
        # rows sharing (sketch, group, part) are usually DIFFERENT input
        # partitions of one batch — deduping on the key columns would
        # silently drop all but one partition's data. Replays, the thing
        # dedup exists for, re-deliver byte-identical rows; so dedup on full
        # content (minus the measured t_ms) instead: exact for replays,
        # keeps distinct partitions. Residual edge: two same-batch
        # partitions with identical content collapse — indistinguishable
        # from a replay in this layout.
        partials = partials.dropDuplicates(
            [c for c in partials.columns if c != "t_ms"])
    # the read side has no specs: size the merge tree from the measured
    # payloads (the partials table is tiny — P blobs per window — so the
    # two sizing aggregates are cheap)
    stats = partials.agg(
        F.max(F.length("blob")).alias("mx"), F.count("*").alias("n")).collect()[0]
    return agg.merge_partials(partials, int(stats["n"]), int(stats["mx"] or 1))


def stateful_windowed_sketch(
    stream_df: DataFrame,
    spec: SketchSpec,
    ts_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
):
    """True stateful streaming: one sketch blob of state per event-time
    window, merged across micro-batches inside the engine's state store
    (``applyInPandasWithState``), emitted when the watermark passes the
    window (EventTimeTimeout). Late data within the watermark merges into
    the live state; the emitted blob is final.

    Output schema: ``win_start timestamp, blob binary, rows bigint``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from sketchlib import blob as blobmod
    from sketchlib.config import _Cfg

    cfg_json = spec.cfg.to_json()
    sketch_kind = spec.sketch
    col = spec.col
    # session zone captured at operator-build time for timer epoch math (the
    # key arrives tz-naive in this zone — see _epoch_ms)
    session_tz = stream_df.sparkSession.conf.get(
        "spark.sql.session.timeZone") or "UTC"

    def fn(key, pdf_iter, state: GroupState):
        _worker.drop_spark_zip_finders()
        from sketchlib.agg import MODULES

        cfg = _Cfg.from_json(cfg_json)
        module = MODULES[sketch_kind]
        if state.hasTimedOut:
            blob_bytes, rows = state.get
            state.remove()
            yield pd.DataFrame(
                {"win_start": [key[0]], "blob": [blob_bytes], "rows": [rows]}
            )
            return
        import numpy as np

        builder = module.new_builder(cfg)
        rows = 0
        for pdf in pdf_iter:
            flat = _series_values(pdf[col], np, pd)
            if flat.size:
                builder.update(flat)
            rows += len(pdf)
        new_blob = blobmod.pack(sketch_kind, cfg, builder.to_payload())
        if state.exists:
            old_blob, old_rows = state.get
            new_blob = module.merge_blobs(bytes(old_blob), new_blob)
            rows += old_rows
        state.update((new_blob, rows))
        # emit once the watermark passes the window end
        state.setTimeoutTimestamp(_epoch_ms(key[1], session_tz))

    keyed = (
        stream_df.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .withColumn("_win", F.window(F.col(ts_col), window))
        .withColumn("_ws", F.col("_win.start"))
        .withColumn("_we", F.col("_win.end"))
        .drop("_win")
    )
    return (
        keyed.groupBy("_ws", "_we")
        .applyInPandasWithState(
            fn,
            outputStructType="win_start timestamp, blob binary, rows bigint",
            stateStructType="blob binary, rows bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stream_to_sketches(
    spark: SparkSession,
    stream_df: DataFrame,
    specs: list[SketchSpec],
    out_dir: str,
    ts_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    group_by: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming DataFrame to the sketch sink (availableNow-friendly).
    Watermarking bounds state the engine keeps for the windowing column; the
    monoid sink itself accepts arbitrarily late partials."""
    q = (
        stream_df.withWatermark(ts_col, watermark)
        .writeStream.foreachBatch(sketch_sink(specs, out_dir, ts_col, window, group_by))
        .option("checkpointLocation", checkpoint_dir or os.path.join(out_dir, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    return q
