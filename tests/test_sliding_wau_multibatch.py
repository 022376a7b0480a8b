"""Multi-batch regression for the sliding-WAU watermark sizing.

The pipeline watermarks on ``cover_day``, a column that runs up to
6 days AHEAD of the event that produced it.  With a bare 2 h delay the
first batch's watermark lands at max(event_day)+6d-2h — ahead of every
cover row a LATER in-order source day generates (day d covers d..d+6,
all below that mark), so multi-batch runs silently dropped those rows
at the dedup operator and undercounted the curve.  The availableNow
single-batch drain could never see this (the watermark only commits at
batch end), which is exactly why this test choreographs the stream as
one file per micro-batch with day-boundary gaps between them.

The fix (``6 days 2 hours`` = cover expansion + the repo's standard
2 h lateness policy) is pinned two ways: the engine's own
numRowsDroppedByWatermark stays 0, and stream-end state equals the
batch cover-expansion oracle (q136's contract).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.streaming.runner import (
    run_to_memory_available_now,
    sliding_wau_pipeline,
)

TS = "ts timestamp, user_id long, event_type string, value double"
TS_STR = "ts string, user_id long, event_type string, value double"


def _df(spark, rows):
    return spark.createDataFrame(
        [(t, u, "view", 1.0) for t, u in rows], TS_STR
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _stage_stream_dir(spark, tmp_path, batches):
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


# Three micro-batches whose source days ADVANCE across batch
# boundaries (the scenario the 2 h cover_day watermark got wrong), plus
# an out-of-order row inside the lateness budget and a cross-batch
# duplicate (same user, same day) that the dedup must still absorb.
B1 = [("2024-03-01 10:00:00", 1), ("2024-03-02 12:00:00", 2)]
B2 = [
    ("2024-03-04 09:00:00", 3),
    ("2024-03-04 08:55:00", 1),  # user 1 again, 2 days later
    ("2024-03-04 07:30:00", 4),  # out-of-order within the 2 h budget
]
B3 = [
    ("2024-03-06 11:00:00", 2),
    ("2024-03-06 11:05:00", 2),  # exact dup inside the batch
    ("2024-03-04 09:30:00", 3),  # cross-batch dup of (user 3, day 4)
]


def _batch_oracle(spark):
    """q136's batch contract: distinct (day, user), each expanded to
    the 7 cover days, counted per day."""
    all_rows = _df(spark, B1 + B2 + B3)
    return {
        r.day: r.wau
        for r in (
            all_rows.select(
                F.floor(F.unix_timestamp("ts") / 86400)
                .cast("long")
                .alias("day"),
                "user_id",
            )
            .distinct()
            .select(
                F.explode(
                    F.sequence(F.col("day"), F.col("day") + 6)
                ).alias("day"),
                "user_id",
            )
            .distinct()
            .groupBy("day")
            .agg(F.count("*").cast("long").alias("wau"))
            .collect()
        )
    }


def test_sliding_wau_multibatch_matches_batch_oracle(spark, tmp_path):
    d = _stage_stream_dir(spark, tmp_path, [B1, B2, B3])
    src = (
        spark.readStream.schema(TS)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    report = run_to_memory_available_now(sliding_wau_pipeline(src))
    got = {r.day: r.wau for r in report.frame.collect()}
    # the engine dropped nothing: every later-day cover row cleared the
    # (correctly sized) watermark
    assert report.state["numRowsDroppedByWatermark"] == 0
    assert got == _batch_oracle(spark)
    # shape spot-checks: day 4 covers users {1,2,3,4}; the ramp-down
    # tail (day 12 = last day + 6) sees only day-6 contributors
    day0 = 19783  # 2024-03-01 as epoch days
    assert got[day0 + 3] == 4
    assert got[day0 + 11] == 1  # only user 2's day-6 event covers it
