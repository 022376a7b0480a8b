"""Scan-parallelism repair for CPU-heavy scan-side pipelines.

Local test tables are single-row-group parquet files, so a Spark scan
yields ONE input split no matter how `maxPartitionBytes` /
`openCostInBytes` are tuned (a parquet file can only split at row-group
boundaries).  Every scan-side transform chained on such a scan —
tokenize, shingle, per-seed hashing, codec decode — then runs on one
core while the rest of the cluster idles.

:func:`fan_out` is the measured fix (optimization guide §2.5 "input
skew: one huge unsplittable file … repartition immediately after the
read", §6 input split size): round-robin repartition to the session's
default parallelism, but ONLY when the source provides fewer FILES
than that — at real scale a 100 TB table has thousands of files and
the helper is a no-op, adding no exchange, so the operator plans are
unchanged where it matters.  Correctness is partition-independent for
every call site: aggregation results do not depend on row placement,
and the repo's sampling/draw family is md5-keyed (documented
repartition-stable).

The under-parallel probe is ``DataFrame.inputFiles()`` (a FileIndex
listing, ~2 ms warm) rather than ``df.rdd.getNumPartitions()`` (a full
plan + RDD conversion, 120-350 ms measured) — the probe must stay far
cheaper than the win it buys.  File count under-estimates split count
for large multi-row-group files, so a big-file table on a small
cluster could fan out needlessly; the size guard below (local paths
only, best-effort) bounds that: sources larger than one split per
target partition are left alone — they split natively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def pandas_parallelism(df: DataFrame) -> int:
    """Partition count for a pandas-boundary (applyInPandas /
    mapInPandas) stage: half the session's default parallelism, floor 1.

    Each such task runs as a JVM thread PLUS a Python worker process,
    both runnable while Arrow batches stream between them — tasks ==
    cores therefore oversubscribes every core 2x.  Measured on the
    grouped-MAD stage (q172, local[32], sf0.1): 32 partitions 4.5 s,
    16 partitions 0.9 s, same results.  cores/2 keeps (JVM + Python)
    pairs == cores; the same arithmetic holds per-executor on a real
    cluster."""
    return max(1, df.sparkSession.sparkContext.defaultParallelism // 2)


def fan_out_buckets(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Unconditional round-robin spread for capped-BUCKET expansion
    frames (the collect_list |bucket|² pair fabrications in dedup/
    similarity).

    :func:`fan_out` decides from the SOURCE's file layout, which is
    the wrong signal for a post-aggregate bucket frame (r12 advice):
    AQE coalesces that exchange by the aggregate's output BYTES —
    tiny for capped buckets — while the downstream |bucket|² CPU work
    is not tiny, and an upstream ``localCheckpoint`` empties
    ``inputFiles()`` so the conditional form silently no-ops.  The
    bucket frame itself is always byte-light (bucket caps are the
    operators' declared semantics), so one explicit exchange — exempt
    from AQE coalescing — is cheap at any scale, exactly like
    ``edit_distance_pairs``' unconditional probe-side repartition."""
    target = df.sparkSession.sparkContext.defaultParallelism * multiple
    if target <= 1:
        return df
    return df.repartition(target)


def fan_out(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism * multiple`` ways if
    (and only if) its file source provides fewer files than that and is
    small enough that Spark cannot split its way to parallelism.

    Call it on a (possibly projected/filtered) SCAN frame right before
    CPU-heavy per-row work.  The explicit numbered repartition is
    exempt from AQE coalescing, so the fan-out survives to runtime.
    Under-parallel sources pay one tiny exchange of the scan columns;
    adequately-provisioned sources return unchanged."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiple
    if target <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        # probe is best-effort: a source without a file index (stream,
        # in-memory relation) just skips the fan-out
        return df
    if not files or len(files) >= target:
        return df
    # size guard: a few LARGE files split natively at row-group
    # boundaries; only a source that cannot reach `target` splits even
    # at 128 MB each is worth an explicit exchange.  Non-local paths
    # (hdfs://, s3a://) skip the guard conservatively: fanning out a
    # remote source we cannot cheaply size risks shuffling terabytes.
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f
        if "://" in p:
            return df
        try:
            total += os.path.getsize(p)
        except OSError:
            return df
    if total > target * 128 * 1024 * 1024:
        return df
    return df.repartition(target)
