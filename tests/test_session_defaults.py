"""Session defaults the engine's speed depends on.

The generated-code cache (``spark.sql.codegen.cache.maxEntries``) must
hold the working set of a small pipeline loop: Spark's cache evicts the
least recently used class first, so when the loop compiles more classes
than the cache holds and runs its ops in a fixed order, few classes are
still cached when they are needed again and every pass recompiles most
of them with Janino.

Streaming logs and state stores are written through the FileSystem-based
checkpoint manager (``spark.sql.streaming.checkpointFileManagerClass``).
Without the native Hadoop library, Spark's default FileContext manager
forks a ``readlink`` process for each side of every checkpoint rename,
dozens a micro-batch.  The switch must keep the no-overwrite rule the
offset and commit logs rely on.
"""

from __future__ import annotations

import pytest

from real_time_stream_processing_engine_spark.queries import QUERIES
from real_time_stream_processing_engine_spark.sinks import stream_to_files

# The op set of the benchmark's `pipelines` loop: 123 classes at sf0.001,
# over Spark's default cache of 100.  q345_copresence_pairs is left out:
# with adaptive execution on, its second run compiles 4 classes its first
# run did not, at any cache size.
CACHE_OPS = (
    "q01_filter_contains", "q02_column_filter_eq", "q03_filter_project",
    "q04_filter_count", "q05_transform_case", "q06_word_count",
    "q07_fused_filter_transform", "q08_grouped_agg", "q09_chained_pipeline",
    "q100_cooccurrence_pmi", "q168_duplicate_payments", "q221_seasonal_index",
    "q277_sentence_length_profile",
)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one timer sample each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, sf_dir) -> None:
    for name in CACHE_OPS:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_codegen_cache_holds_pipeline_working_set(spark, sf_dir):
    _run_pass(spark, sf_dir)
    first = _compiles(spark)
    _run_pass(spark, sf_dir)
    assert _compiles(spark) - first == 0


def _processes_forked() -> int:
    """Processes forked on this host since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


def test_checkpoint_writes_do_not_fork_per_batch(spark, tmp_path):
    """A one-file-per-batch file stream into a file sink forks ~100
    processes a batch through the FileContext manager (``readlink`` on
    both sides of each log rename) and ~30 through the FileSystem one
    (the ``chmod`` of each checksummed create).  ``/proc/stat`` counts
    every clone, so the threads that run and reap each child count too."""
    batches = 4
    src = tmp_path / "src"
    src.mkdir()
    for i in range(batches):
        (src / f"part{i}.txt").write_text(f"row{i}\n")
    stream = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    before = _processes_forked()
    q = stream_to_files(stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), fmt="text")
    q.awaitTermination()
    forked = _processes_forked() - before
    assert len(q.recentProgress) >= batches
    assert forked <= 50 * batches, f"{forked} processes forked for {batches} batches"


def test_checkpoint_manager_refuses_to_overwrite(spark, tmp_path):
    """The offset and commit logs claim a batch id by creating its file
    without overwrite; a second writer for the same id must fail when
    its stream closes, and the first file must survive."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    existing = tmp_path / "0"
    existing.write_text("first")
    out = manager.createAtomic(jvm.org.apache.hadoop.fs.Path(str(existing)), False)
    out.write(b"second")
    with pytest.raises(Exception, match="exists"):
        out.close()
    assert existing.read_text() == "first"
