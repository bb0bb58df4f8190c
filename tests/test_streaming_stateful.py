"""Stateful streaming (applyInPandasWithState): per-window sketch state
merged across micro-batches, emitted on event-time timeout, equal to the
batch-built sketch for the same window."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from sketchlib import agg, hll, streaming
from sketchlib.config import HLLConfig


def test_stateful_windowed_hll(spark, tmp_path_factory):
    base = dt.datetime(2026, 2, 1, 0, 0, 0)
    # three files in time order: the third advances the watermark far enough
    # to close the first two hours' windows
    in_dir = str(tmp_path_factory.mktemp("stateful_in"))
    for i, hour in enumerate([0, 1, 9]):
        rows = [
            Row(ts=base + dt.timedelta(hours=hour, seconds=j % 3500), token=(j * 13 + hour) % 2000)
            for j in range(4_000)
        ]
        spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
            f"{in_dir}/f{i}"
        )

    stream = (
        spark.readStream.schema("ts timestamp, token long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{in_dir}/f*")
    )
    spec = agg.SketchSpec("hll", HLLConfig(p=12), "token")
    out = streaming.stateful_windowed_sketch(
        stream, spec, ts_col="ts", window="60 minutes", watermark="10 minutes"
    )
    sink_dir = str(tmp_path_factory.mktemp("stateful_out"))
    q = (
        out.writeStream.format("parquet")
        .option("path", f"{sink_dir}/data")
        .option("checkpointLocation", f"{sink_dir}/chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r["win_start"]: (bytes(r["blob"]), r["rows"])
        for r in spark.read.parquet(f"{sink_dir}/data").collect()
    }
    # hours 0 and 1 must have closed (hour 9's watermark passed them)
    assert base in got and base + dt.timedelta(hours=1) in got
    batch = spark.read.parquet(f"{in_dir}/f*")
    for ws, (blob, rows) in got.items():
        sl = batch.filter(
            (F.col("ts") >= ws) & (F.col("ts") < ws + dt.timedelta(hours=1))
        )
        assert rows == sl.count()
        exact = sl.agg(F.countDistinct("token").alias("d")).collect()[0]["d"]
        est = hll.estimate_blob(blob)
        assert abs(est - exact) / exact < 0.1


def test_epoch_ms_respects_session_timezone():
    """The state-timer epoch must interpret the tz-naive window boundary in
    the SESSION zone; a bare .timestamp() assumes UTC and shifts timers by
    the zone's offset (a timeout below the watermark kills the query)."""
    import pandas as pd

    # 19:00 Tokyo wall time IS 10:00 UTC — same instant, same epoch
    assert streaming._epoch_ms(pd.Timestamp("2026-01-01 19:00:00"),
                               "Asia/Tokyo") == \
        streaming._epoch_ms(pd.Timestamp("2026-01-01 10:00:00"), "UTC")
    # already tz-aware keys pass through unshifted
    aware = pd.Timestamp("2026-01-01 10:00:00", tz="UTC")
    assert streaming._epoch_ms(aware, "Asia/Tokyo") == \
        int(aware.timestamp() * 1000)


def test_series_values_null_safe():
    import numpy as np
    import pandas as pd

    # scalar column: null rows dropped
    flat = streaming._series_values(pd.Series([1, None, 3]), np, pd)
    assert sorted(flat.tolist()) == [1, 3]
    # array column: null ROWS skipped, null ELEMENTS scrubbed
    s = pd.Series([np.array([1.0, np.nan]), None, np.array([2.0, 3.0])])
    flat = streaming._series_values(s, np, pd)
    assert sorted(int(x) for x in flat.tolist()) == [1, 2, 3]
    # empty after dropna
    assert streaming._series_values(pd.Series([None, None]), np, pd).size == 0


def test_stateful_windowed_hll_non_utc_session(spark, tmp_path_factory):
    """End-to-end stateful run with a non-UTC session timezone: before the
    timer fix the computed timeout sat 9h in the past/future of the true
    window end, either crashing setTimeoutTimestamp or never emitting."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        base = dt.datetime(2026, 3, 1, 0, 0, 0)
        in_dir = str(tmp_path_factory.mktemp("stateful_tz_in"))
        for i, hour in enumerate([0, 9]):
            rows = [Row(ts=base + dt.timedelta(hours=hour, seconds=j % 3500),
                        token=j % 500) for j in range(2_000)]
            spark.createDataFrame(rows).coalesce(1).write.mode(
                "overwrite").parquet(f"{in_dir}/f{i}")
        stream = (spark.readStream.schema("ts timestamp, token long")
                  .option("maxFilesPerTrigger", "1").parquet(f"{in_dir}/f*"))
        spec = agg.SketchSpec("hll", HLLConfig(p=12), "token")
        out = streaming.stateful_windowed_sketch(
            stream, spec, ts_col="ts", window="60 minutes",
            watermark="10 minutes")
        sink_dir = str(tmp_path_factory.mktemp("stateful_tz_out"))
        q = (out.writeStream.format("parquet")
             .option("path", f"{sink_dir}/data")
             .option("checkpointLocation", f"{sink_dir}/chk")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = spark.read.parquet(f"{sink_dir}/data").collect()
        # hour-0 window must have closed when hour 9 advanced the watermark
        assert len(got) >= 1
        est = hll.estimate_blob(bytes(got[0]["blob"]))
        assert abs(est - 500) / 500 < 0.1
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
