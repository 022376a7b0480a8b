"""Live (non-draining) streaming posture + streaming-state equality.

The reference is a *real-time* engine: tuples flow continuously from
stage to stage over TCP (``Node.java:915-981``) under a job lifecycle of
start -> stream -> observe -> stop (``RainStorm.java:842-877``).  These
tests pin the repo's continuous entry points (rate + socket sources,
``run_continuous``) and streaming-state equality with the batch answer.
q32's stream-end running count is checked against its DuckDB oracle
with every other registered query (``tests/test_oracle_queries.py``).
"""

from __future__ import annotations

import glob
import os
import socket
import threading
import time

from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.streaming.runner import (
    _scratch_dir,
    run_continuous,
    stream_grouped_counts,
    stream_rate,
    stream_socket,
)

from .conftest import SF_SMOKE


def _poll(predicate, timeout_s: float = 60.0, step_s: float = 0.25):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(step_s)
    return False


def _live_ckpts() -> set[str]:
    """Checkpoint dirs a live query could have left under scratch."""
    return set(glob.glob(os.path.join(_scratch_dir(), "rs_ckpt_live_*")))


def test_rate_source_runs_continuously_and_output_is_monotone(spark):
    before = _live_ckpts()
    src = stream_rate(spark, rows_per_second=50).select("timestamp", "value")
    q = run_continuous(src, name="live_rate", trigger_interval="250 milliseconds")
    try:
        assert q.isActive
        # observe: status is exposed while the query keeps running
        assert isinstance(q.status, dict) and "isTriggerActive" in q.status
        counts = []

        def grew():
            counts.append(spark.table("live_rate").count())
            # three triggers' worth of new rows observed across polls
            return counts[-1] >= 150 and len(set(counts)) >= 3

        assert _poll(grew), f"no continuous progress: {counts}"
        assert counts == sorted(counts), f"output not monotone: {counts}"
        # rate rows are consecutive integers from 0 — nothing lost/dup'd
        n = spark.table("live_rate").agg(
            F.count("*").alias("n"), F.count_distinct("value").alias("d"),
            F.min("value").alias("lo"),
        ).first()
        assert n.n == n.d and n.lo == 0
    finally:
        q.stop()
    assert _poll(lambda: not q.isActive), "stop() did not terminate the query"
    assert _live_ckpts() - before == set()


def test_socket_source_receives_live_tuples(spark):
    """A local TCP producer (the test) feeds the socket source — the
    reference's stage-1 -> stage-2 tuple flow, with Spark as stage 2."""
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            for i in range(200):
                if stop.is_set():
                    break
                conn.sendall(f"tuple-{i} payload\n".encode())
                time.sleep(0.01)
            while not stop.is_set():  # keep the pipe open until stopped
                time.sleep(0.05)

    before = _live_ckpts()
    t = threading.Thread(target=serve, daemon=True)
    t.start()
    src = stream_socket(spark, "127.0.0.1", port).filter(
        F.col("value").contains("payload")
    )
    q = run_continuous(src, name="live_socket", trigger_interval="250 milliseconds")
    try:
        assert _poll(lambda: spark.table("live_socket").count() >= 100)
        got = spark.table("live_socket").limit(1).first().value
        assert got.startswith("tuple-")
    finally:
        q.stop()
        stop.set()
        server.close()
    assert _live_ckpts() - before == set()


def test_backpressure_max_files_per_trigger(spark, tmp_path):
    """The backpressure knob the reference lacks: maxFilesPerTrigger=1
    over a 3-file source must drain in >= 3 micro-batches (offsets log
    counts them); without the knob the drain is one batch."""
    import os

    from pyspark.sql import functions as F

    from real_time_stream_processing_engine_spark.sources.readers import SCHEMAS

    src_path = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path / "src"
    d.mkdir()
    for i in range(3):
        os.symlink(src_path, d / f"events_{i}.parquet")

    def drain(reader, name):
        ckpt = str(tmp_path / f"ckpt_{name}")
        q = (
            reader.parquet(str(d))
            .select("event_id")
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return len(os.listdir(os.path.join(ckpt, "offsets")))

    throttled = drain(
        spark.readStream.schema(SCHEMAS["events"]).option("maxFilesPerTrigger", 1),
        "bp_throttled",
    )
    unthrottled = drain(spark.readStream.schema(SCHEMAS["events"]), "bp_open")
    assert throttled >= 3 > unthrottled
    # both drains saw all 3 copies
    assert spark.table("bp_throttled").count() == spark.table("bp_open").count()


def test_observed_metrics_account_for_every_tuple(spark, sf_dir):
    """df.observe() totals across micro-batches equal the batch count —
    the in-dataflow tuple accounting that replaces the reference
    leader's log-scraped per-task counts."""
    from pyspark.sql import functions as F

    from real_time_stream_processing_engine_spark.sources.readers import load_table
    from real_time_stream_processing_engine_spark.streaming.runner import (
        run_to_memory_available_now,
        stream_events,
    )

    src = stream_events(spark, sf_dir, max_files_per_trigger=1).observe(
        "rs_ingest", F.count(F.lit(1)).alias("n_tuples")
    )
    agg = src.groupBy("event_type").agg(F.count("*").alias("cnt"))
    report = run_to_memory_available_now(agg)
    total_rows = load_table(spark, sf_dir, "events").count()
    assert report.observed["rs_ingest"]["n_tuples"] == total_rows
    assert sum(r["cnt"] for r in report.frame.collect()) == total_rows
    # the per-batch phase split is summed over the drain too
    assert report.phases_ms["triggerExecution"] > 0
    assert {"addBatch", "walCommit", "commitOffsets"} <= report.phases_ms.keys()


def test_drain_drops_its_memory_sink_view(spark):
    """A drain leaves no memory-sink view in the session catalog; the
    frame it returns still reads the sink's rows."""
    got = stream_grouped_counts(spark, SF_SMOKE).collect()
    assert sum(r.cnt for r in got) == (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    )
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("rs_mem_")
    ]


def test_stream_countmin_equals_batch_sketch(spark, sf_dir):
    """The streamed sketch must equal the batch-built sketch EXACTLY:
    bucket-sum merge is associative and the batch-id ledger applies
    each micro-batch once."""
    from real_time_stream_processing_engine_spark.operators.sketches import (
        countmin_build,
    )
    from real_time_stream_processing_engine_spark.sources.readers import load_table
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_countmin,
    )

    streamed = stream_countmin(spark, sf_dir)
    batch = countmin_build(
        load_table(spark, sf_dir, "events").select(
            F.col("user_id").cast("string").alias("tok")
        )
    )
    a = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b
