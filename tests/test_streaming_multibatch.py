"""Multi-batch differential suite for EVERY file-fed streaming query.

The r4 advice found a bug class the per-query tests could not see: a
single availableNow drain commits the watermark only at batch END, so
watermark-sizing and state-eviction mistakes (the sliding-WAU
cover_day skew) are invisible unless the stream actually advances
across micro-batch boundaries.  This suite closes the class for the
WHOLE streaming inventory, not just the query that bit:

- the events table is re-staged as FOUR time-ordered part files
  (identical rows; ascending mtimes), other tables symlinked;
- ``runner._FORCED_MAX_FILES = 1`` forces every file-fed stream —
  including the doubled-delivery and foreachBatch-sink paths — into
  one-file-per-micro-batch mode, so each query runs a real 4-batch
  (8 for doubled sources) sequence with the watermark advancing
  between batches;
- each query's stream-end answer is then held to the SAME DuckDB
  oracle the single-batch correctness harness uses (batch twins for
  q32 and q105, checked here against their batch twins).

In-order slices keep all data inside the 2 h lateness policy, so
stream end must STILL equal the batch answer; the deliberate
out-of-order/late cases stay in tests/test_watermark_lateness.py.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES
from real_time_stream_processing_engine_spark.sources.readers import load_table
from real_time_stream_processing_engine_spark.streaming import runner

from .conftest import SF_SMOKE
from .oracle import compare, duck_connection

N_SLICES = 4

# every streaming queries() entry with a SQL oracle
ORACLE_BACKED = [
    "q10_stream_running_count",
    "q29_stream_tumbling",
    "q30_stream_dedup",
    "q31_stream_sessions",
    "q37_stream_enrich",
    "q42_stream_stream_join",
    "q55_stream_hopping",
    "q69_stream_cdc_upsert",
    "q86_stream_leaderboard",
    "q88_stream_funnel",
    "q96_stream_outer_join",
    "q136_stream_sliding_wau",
    "q162_stream_psi_drift",
    "q171_stream_bitmap_dau",
]


def _stage_multi_sf(spark, base, overlap_sec: int) -> str:
    """sf0.001 with events split into N_SLICES files delivered in
    slice order.  ``overlap_sec > 0`` makes each slice reach BACK into
    the previous slice's time range by that much (late rows at file
    granularity) while keeping every row inside the 2 h lateness
    policy: rows are assigned to slices by a deterministic hash within
    the overlap band, so the union is still exactly the original rows.
    """
    for f in sorted(os.listdir(SF_SMOKE)):
        if f != "events.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), str(base / f))
    ev = load_table(spark, SF_SMOKE, "events")
    lo, hi = ev.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).head()
    bounds = [lo + (hi - lo) * i // N_SLICES for i in range(1, N_SLICES)]
    # each row's nominal slice; rows within overlap_sec BELOW a bound
    # flip to the LATER slice when their hash says so (out-of-order
    # arrival inside the watermark budget)
    t = F.unix_timestamp("ts")
    slice_no = F.lit(0)
    for b in bounds:
        slice_no = slice_no + (t >= b).cast("int")
    if overlap_sec:
        late = F.lit(0)
        for b in bounds:
            in_band = (t >= b - overlap_sec) & (t < b)
            late = F.when(
                in_band & (F.pmod(F.xxhash64("event_id"), F.lit(2)) == 0),
                F.lit(1),
            ).otherwise(late)
        slice_no = slice_no + late
    ev = ev.withColumn("_slice", slice_no)
    ev_dir = base / "events.parquet"
    ev_dir.mkdir()
    # write slices with a self-describing unit (the session default is
    # INT96, which the unit sniff rightly refuses)
    prev_tt = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for i in range(N_SLICES):
        s = ev.filter(F.col("_slice") == i).drop("_slice")
        scratch = base / f"slice{i}"
        s.coalesce(1).write.parquet(str(scratch))
        (part,) = glob.glob(str(scratch / "part-*.parquet"))
        dst = ev_dir / f"part-{i:02d}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
        shutil.rmtree(scratch)
    spark.conf.set("spark.sql.parquet.outputTimestampType", prev_tt)
    # restaged rows must be EXACTLY the original rows
    assert (
        load_table(spark, str(base), "events").count()
        == load_table(spark, SF_SMOKE, "events").count()
    ), "slice assignment dropped rows"
    return str(base)


@pytest.fixture(scope="module")
def multi_sf(spark, tmp_path_factory) -> str:
    """Strictly time-ordered slices."""
    return _stage_multi_sf(spark, tmp_path_factory.mktemp("multisf"), 0)


@pytest.fixture(scope="module")
def multi_sf_ooo(spark, tmp_path_factory) -> str:
    """Out-of-order at file granularity: each slice reaches 1 h back
    into the previous one — inside the 2 h watermark budget, so
    stream end must STILL equal the batch answer."""
    return _stage_multi_sf(spark, tmp_path_factory.mktemp("multisf_ooo"), 3600)


@pytest.fixture(scope="module")
def one_file_per_batch():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(runner, "_FORCED_MAX_FILES", 1)
        yield


@pytest.fixture(scope="module")
def con():
    c = duck_connection(SF_SMOKE)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_stream_multibatch_equals_oracle(name, spark, multi_sf, con, one_file_per_batch):
    res = compare(QUERIES[name](spark, multi_sf), con, ORACLE[name])
    assert res["ok"], (name, res)


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_stream_multibatch_out_of_order_within_watermark(
    name, spark, multi_sf_ooo, con, one_file_per_batch
):
    """Late arrival at file granularity (1 h reach-back per slice,
    inside the 2 h policy): the watermark's grace machinery must merge
    the late rows, and stream end must still equal the batch oracle."""
    res = compare(QUERIES[name](spark, multi_sf_ooo), con, ORACLE[name])
    assert res["ok"], (name, res)


def test_q32_stateful_multibatch_equals_batch(spark, multi_sf, one_file_per_batch):
    got = {
        r.event_type: r.cnt
        for r in QUERIES["q32_stream_stateful_count"](spark, multi_sf).collect()
    }
    want = {
        r.event_type: r.cnt
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want


def test_q105_countmin_multibatch_equals_batch_sketch(spark, multi_sf, one_file_per_batch):
    """The 4-batch merged sketch must yield the same top-10 heavy
    hitters as a sketch built in ONE batch pass over the same rows
    (merge associativity under real multi-batch sequencing)."""
    from real_time_stream_processing_engine_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )

    streamed = QUERIES["q105_stream_countmin"](spark, multi_sf)
    toks = load_table(spark, SF_SMOKE, "events").select(
        F.col("user_id").cast("string").alias("tok")
    )
    batch = (
        countmin_estimate(countmin_build(toks), toks.distinct())
        .orderBy(F.desc("est_count"), F.asc("tok"))
        .limit(10)
        .select(F.col("tok").alias("user_id"), "est_count")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_binned_counts_crash_mid_multibatch_recovers(spark, multi_sf, tmp_path, one_file_per_batch):
    """Exactly-once under the REAL multi-batch layout: the maintained
    bin-count table crashes after 2 of 4 micro-batches, restarts from
    the same checkpoint + target, and must equal the batch answer —
    the ledger absorbs the replayed batch, the later batches land
    once each."""
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_binned_counts,
    )

    target = str(tmp_path / "bins_target")
    ckpt = str(tmp_path / "bins_ckpt")
    with pytest.raises(Exception, match="injected sink crash"):
        stream_binned_counts(
            spark, multi_sf, target_path=target, checkpoint=ckpt,
            fail_after_batches=2,
        )
    recovered = stream_binned_counts(
        spark, multi_sf, target_path=target, checkpoint=ckpt
    )
    want = {
        (r.event_type, r.bin): r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .select(
            "event_type",
            F.least(F.lit(9), F.floor(F.col("value") / 10.0))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r.event_type, r.bin): r.n for r in recovered.collect()}
    assert got == want
