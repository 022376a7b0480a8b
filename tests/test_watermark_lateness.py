"""Watermark late-data semantics, differentially tested.

The reference has no event time at all (SURVEY.md §2.5); the streaming
queries (q29/q30/q55) document a 2 h watermark policy — "late rows
beyond the watermark are dropped, late rows within it are kept".  These
tests PIN that policy by choreographing a multi-file stream processed
one file per micro-batch (``maxFilesPerTrigger=1``; the watermark
advances between batches, to the completed batches' max event time
minus the delay):

    batch 0  on-time events        -> watermark will rise to max - 2 h
    batch 1  buffer event          -> the advanced watermark is now in
                                      effect for late-row filtering
    batch 2  too-late event        -> window end < watermark: DROPPED
                                      (visible in the engine's own
                                      numRowsDroppedByWatermark)
    batch 3  in-horizon late event -> window still open: KEPT (merged)
    batch 4  flush events          -> watermark passes all test windows,
                                      append mode emits them

The buffer batch matters: Structured Streaming commits the new
watermark at the END of a batch, so a late row racing the very first
advance (arriving in the batch immediately after the rows that raised
the watermark) still lands in a one-batch grace window — standard
engine semantics, verified here in batch-count terms.  In a continuous
production stream the steady-state behavior is the documented policy.

The differential oracle is the BATCH aggregate over exactly the rows
the policy says survive; the too-late window must be absent, and a
batch run over ALL rows must differ (the test has teeth).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.streaming.runner import (
    run_to_memory_available_now,
)

TS = "ts timestamp, user_id long, event_type string, value double"
TS_STR = "ts string, user_id long, event_type string, value double"
BASE = "2024-03-01 {}"


def _df(spark, rows):
    return spark.createDataFrame(
        [(BASE.format(t), u, e, v) for t, u, e, v in rows], TS_STR
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _stage_stream_dir(spark, tmp_path, batches):
    """Write each batch as ONE parquet file into a stream dir, with
    strictly increasing mtimes so the file source (oldest-first) feeds
    them as separate micro-batches under maxFilesPerTrigger=1."""
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, rows in enumerate(batches):
        scratch = tmp_path / f"b{i}"
        _df(spark, rows).coalesce(1).write.parquet(str(scratch))
        (part,) = glob.glob(str(scratch / "part-*.parquet"))
        dst = stream_dir / f"batch_{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    return str(stream_dir)


def _read_stream(spark, d):
    return (
        spark.readStream.schema(TS)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )


ON_TIME = [
    ("10:15:00", 1, "view", 1.0),
    ("10:45:00", 2, "view", 1.0),
    ("11:15:00", 1, "click", 1.0),
    ("12:15:00", 3, "view", 1.0),
]
BUFFER = [("12:20:00", 7, "click", 1.0)]  # wm in effect after: 10:20
TOO_LATE = [("02:15:00", 9, "view", 1.0)]  # window end 03:00 << wm 10:20
IN_HORIZON = [("10:30:00", 4, "view", 1.0)]  # window end 11:00 > wm 10:20
FLUSH = [("20:00:00", 5, "flush", 1.0)]  # drives wm to 18:00: emit all


def _tumbling(src_or_df, streaming):
    agg = src_or_df
    if streaming:
        agg = agg.withWatermark("ts", "2 hours")
    return (
        agg.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "HH:mm").alias("ws"), "event_type", "cnt"
        )
    )


def test_tumbling_drops_beyond_watermark_keeps_within(spark, tmp_path):
    d = _stage_stream_dir(
        spark, tmp_path, [ON_TIME, BUFFER, TOO_LATE, IN_HORIZON, FLUSH]
    )
    report = run_to_memory_available_now(
        _tumbling(_read_stream(spark, d), streaming=True),
        output_mode="append",
    )
    got = {(r.ws, r.event_type): r.cnt for r in report.frame.collect()}
    # the engine itself accounted the drop
    assert report.state["numRowsDroppedByWatermark"] == 1
    # batch oracle over exactly the rows the policy keeps (flush's own
    # window is WITHHELD by append mode: still inside the final horizon)
    kept = _df(spark, ON_TIME + BUFFER + IN_HORIZON)
    want = {
        (r.ws, r.event_type): r.cnt
        for r in _tumbling(kept, streaming=False).collect()
    }
    assert got == want
    # the specific semantics, spelled out:
    assert got[("10:00", "view")] == 3  # in-horizon late row KEPT + merged
    assert not any(ws == "02:00" for ws, _ in got)  # too-late DROPPED
    assert not any(ws == "20:00" for ws, _ in got)  # flush withheld
    # and a batch over ALL rows disagrees -> the drop is observable
    everything = _df(
        spark, ON_TIME + BUFFER + TOO_LATE + IN_HORIZON + FLUSH
    )
    assert {
        (r.ws, r.event_type): r.cnt
        for r in _tumbling(everything, streaming=False).collect()
    } != got


def test_hopping_drops_and_keeps_per_overlapping_window(spark, tmp_path):
    """q55's hopping twin: an in-horizon late event (10:40) lands in
    BOTH of its overlapping open windows; the too-late event's two
    windows are both below the watermark and fully dropped."""
    d = _stage_stream_dir(
        spark,
        tmp_path,
        [ON_TIME, BUFFER, TOO_LATE, [("10:40:00", 4, "late", 1.0)], FLUSH],
    )
    src = (
        _read_stream(spark, d)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "event_type", "cnt")
    )
    report = run_to_memory_available_now(src, output_mode="append")
    got = {(r.ws, r.event_type): r.cnt for r in report.frame.collect()}
    assert got[("10:00", "late")] == 1 and got[("10:30", "late")] == 1
    assert not any(ws in ("01:30", "02:00") for ws, _ in got)
    # the drop counter ticks per (event x window): the too-late row
    # explodes into its 2 overlapping windows BEFORE the stateful op,
    # and both land below the watermark
    assert report.state["numRowsDroppedByWatermark"] == 2


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    """q30's dedup contract across micro-batch boundaries: a tuple id
    redelivered in a LATER batch, within the watermark, is still
    invisible — the drained stream carries each id exactly once."""
    b1 = [("10:00:00", 1, "view", 1.0), ("10:01:00", 2, "view", 1.0)]
    b2 = [("10:00:00", 1, "view", 1.0), ("10:02:00", 3, "view", 1.0)]  # 1 redelivered
    d = _stage_stream_dir(spark, tmp_path, [b1, b2])
    deduped = (
        _read_stream(spark, d)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    got = sorted(
        r.user_id
        for r in run_to_memory_available_now(
            deduped, output_mode="append"
        ).frame.collect()
    )
    assert got == [1, 2, 3]
