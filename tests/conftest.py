from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from real_time_stream_processing_engine_spark.session import get_spark

    # Small local session for tests: fewer threads/partitions = faster
    # startup and per-job overhead; the engine itself is partition-count
    # agnostic.  maxFailures=2 (the ",2") so fault-injection tests can
    # exercise task retry, parity with the reference's recovery demo.
    s = get_spark(
        app_name="rs-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '4')},2]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session", autouse=True)
def scratch_guard():
    """A test session leaves the scratch root as it found it: every
    ``rs_*`` entry the run creates there must be gone at the end."""
    from real_time_stream_processing_engine_spark.streaming.runner import _scratch_dir

    pattern = os.path.join(_scratch_dir(), "rs_*")
    before = set(glob.glob(pattern))
    yield
    leaked = sorted(set(glob.glob(pattern)) - before)
    assert not leaked, f"{len(leaked)} new scratch entries left behind: {leaked[:10]}"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def land(path, lo: int, hi: int) -> None:
    """Drop events rows [lo, hi) at ``path`` the way an ingest writer
    does: under a hidden name first, then renamed into place."""
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    events = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    pq.write_table(events.slice(lo, hi - lo), tmp)
    os.rename(tmp, path)


def live_counts(src, name, tmp_path, then=None) -> list[int]:
    """Rows a running stream has delivered once it caught up, and again
    after ``then()`` dropped more input while it ran."""
    spark = src.sparkSession
    q = (
        src.select("event_id")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .start()
    )
    try:
        q.processAllAvailable()
        counts = [spark.table(name).count()]
        if then is not None:
            then()
            q.processAllAvailable()
            counts.append(spark.table(name).count())
    finally:
        q.stop()
    return counts
