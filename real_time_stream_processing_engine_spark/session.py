"""SparkSession factory with scale-oriented defaults.

The reference needs none of this (5-node, tuple-at-a-time over TCP,
``Node.java:963-975``); on Spark the 100 TB posture is configuration:
AQE for runtime re-planning + skew handling, partition sizing so map
tasks stay ~128 MB, Arrow for any Python-side exchange, and broadcast
thresholds so dimension joins never shuffle the fact table.
"""

from __future__ import annotations

import contextlib
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .jvm_archive import archived_launch

# Defaults chosen for local[32] testing; on a real cluster the same code
# runs with shuffle partitions sized to ~2-3x total cores and AQE
# coalescing down.  Nothing in the engine assumes local mode.
_DEFAULTS = {
    # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
    # and dynamic join-strategy switching.  Essential at 100 TB where
    # static partition counts are always wrong for someone.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for every pandas UDF / mapInPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/customer at any SF that matters)
    # broadcast instead of shuffling the fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Target split size for file scans; at 100 TB this keeps task counts
    # ~800k which the Spark scheduler handles fine.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Deterministic timestamp handling for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # TIMESTAMP(NANOS) parquet cannot be read as TimestampType; with this
    # flag it reads as a raw nanos long, which the reader converts only
    # when the footer actually says ns (sources/readers.py sniffs the
    # unit per file — MICROS/MILLIS data is unaffected by this flag).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # G1 heap regions sized so multi-MB task buffers (broadcasts,
    # Arrow batches, collect_list arrays) are NOT humongous
    # allocations: at the 4 MB default region (8 g heap) every >2 MB
    # object triggered a concurrent mark cycle (66 cycles per bench
    # suite, mostly "G1 Humongous Allocation"-initiated), whose
    # concurrent phases steal CPU from the worker threads.  32 m
    # regions cut the cycles to 20 and measured a 5.6% min-per-query
    # whole-suite win (r12 opt, A/B pairs in OPTIMIZATION_r12.md).
    # Applies when this factory launches the JVM (plain python
    # drivers); under spark-submit the driver JVM pre-exists and the
    # deployment sets the same flag on driver/executors itself.
    # Override via SPARK_GRAFT_EXTRA_CONF or extra_conf (extraJavaOptions
    # MERGE with these defaults; the later flag wins on conflict).
    #
    # Aux-thread caps (r13 opt, verdict item 2): JVM ergonomics size
    # concurrent-GC and JIT threads to the HOST's CPU count
    # (ConcGCThreads=6, CICompilerCount=15 on this 32-CPU box) — but a
    # JVM whose every core runs a busy task thread has no headroom for
    # them, so concurrent marking + the continuous codegen-class JIT
    # compilation ran at the workers' expense and produced the
    # migrating 2-4x per-query excursions (suite was FASTER at 8 cores,
    # where aux threads ride idle cores).  Capping both: interleaved
    # full-bench pairs read 371.1->333.8 and 330.5->306.6 s, the
    # excursion cluster (q342/q262/q332/q341/q343/q352) recovered
    # wholesale, min-per-query sum -7.9%, and 32 cores finally beats
    # 8 (306.6 vs 326.9 s).  Same class of fix as the 32m regions:
    # any fully-subscribed executor JVM on a big host (no cgroup CPU
    # cap) gets the same host-sized ergonomics and the same theft;
    # deployments with spare cores can raise both via the env knob.
    #
    # Class-data archive (jvm_archive.py): when get_spark itself
    # launches the JVM, it appends -XX:SharedArchiveFile=<archive> to
    # these options, or -XX:ArchiveClassesAtExit=<temp> when no archive
    # is published for this JDK build and jar set yet.  A launch
    # otherwise loads, parses and verifies Spark's classes from the
    # jars before doing any work; the mapped archive skips that (175 MB
    # after a benchmark `live` run; writing one added ~5.4 s to the
    # exit of the driver that launched the dumping JVM).
    # Benchmark setup_s, 4 vCPUs, interleaved pairs: `live` 8.42 ->
    # 6.02 s (median of 10, 10/10 won), `pipelines` 20.30 -> 18.24 s
    # (10/10); cpu_s and op_cpu_s stay within their bounds.  The JVM dumps
    # to a temp path and the driver renames it into place only after
    # the JVM has exited: a dump cut short with a valid header (a JVM
    # killed mid-write) does not fail safe -- a 60 MB head of a 141 MB
    # archive crashed the JVM at start (SIGBUS while relocating the
    # mapped regions), with or without -XX:+VerifySharedSpaces -- so
    # the published path must never hold a partial file.  JDK 17 dumps no
    # archive whose class path holds a non-empty directory, so the
    # launch swaps in an empty conf dir when Spark's holds only
    # *.template files; with real conf there the archive is off.
    "spark.driver.extraJavaOptions": (
        "-XX:G1HeapRegionSize=32m -XX:ConcGCThreads=2 -XX:CICompilerCount=4"
    ),
    # Generated-class cache sized to the engine's working set: Spark
    # keeps 100 compiled whole-stage/expression classes by default,
    # but the 14 queries of the benchmark's `pipelines` loop compile
    # 150 and one sf0.01 pass over all 356 queries compiles 4,396.
    # The cache evicts least-recently-used first, and a fixed query
    # order re-touches a class only after >100 others, so at the
    # default almost nothing hits: each warm pass re-ran Janino on
    # 128 of the 150 classes (0 here) and the JIT then compiled the
    # fresh classes again.  8192 is ~1.9x the suite working set
    # (tests mix sf0.001 and sf0.01 plans).  Second suite pass at
    # sf0.01, local[4]: compiles 6,569 -> 169, engine CPU 421 -> 257 s.
    # Cost: Metaspace 211 -> 246 MB after it.  Plans are unchanged;
    # compiled classes are only reused.  Static conf: applies when
    # this factory launches the JVM; under spark-submit the
    # deployment sets it.  Override via SPARK_GRAFT_EXTRA_CONF.
    "spark.sql.codegen.cache.maxEntries": "8192",
    # Streaming logs and state stores written through Hadoop's
    # FileSystem, not FileContext.  Every micro-batch writes the
    # offsets, commits and source logs (plus the file sink's metadata
    # log and any state-store deltas) as temp file + rename.  Spark's
    # default FileContext manager renames through
    # AbstractFileSystem.renameInternal, which stats source and
    # destination with getFileLinkStatus; on the local filesystem
    # without the native Hadoop library each stat forks a `readlink`
    # process.  On 4 vCPUs, one-file batches of a file stream to a file
    # sink forked ~100 processes and threads a batch (the `processes`
    # line of /proc/stat) and ~30 with this manager (the `chmod`s of
    # checksummed creates remain).  The benchmark's `live` stream, per
    # batch: triggerExecution 142 -> 99 ms, walCommit 15.2 -> 4.2 ms;
    # its cpu_s fell 28% (median of 12 interleaved pairs, 12/12 won).
    # The no-overwrite rule the logs rely on holds: this manager checks
    # exists(dst) before rename, as the FileContext one checks the
    # destination's link status, and HDFS's FileSystem.rename refuses
    # an existing destination outright.  Override via
    # SPARK_GRAFT_EXTRA_CONF.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def _set(conf: dict[str, str], k: str, v: str) -> None:
    """``conf[k] = v``, except that ``*.extraJavaOptions`` values MERGE
    with what ``conf`` already holds instead of silently dropping it
    (overriding extraJavaOptions used to lose -XX:G1HeapRegionSize=32m).
    The held flags come first so a new flag naming the same option wins
    (the JVM takes the LAST occurrence of a repeated flag)."""
    if k.endswith("extraJavaOptions") and k in conf:
        v = f"{conf[k]} {v}"
    conf[k] = v


def apply_env_conf(conf: dict[str, str], env_conf: str | None) -> None:
    """Apply ``SPARK_GRAFT_EXTRA_CONF``'s semicolon-separated k=v pairs
    onto ``conf`` in place (pure; unit-testable without a JVM), merging
    ``*.extraJavaOptions`` as ``_set`` does.

    Limitation (r12 advice): entries split on ';' BEFORE '=', so a
    conf VALUE containing a semicolon is unrepresentable here — pass
    such values via ``get_spark(extra_conf=...)`` instead."""
    if not env_conf:
        return
    for pair in env_conf.split(";"):
        pair = pair.strip()
        if not pair:
            continue
        if "=" not in pair:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {pair!r} is not k=v "
                "(note: ';' separates entries, so values containing "
                "';' cannot be passed through this env var)"
            )
        k, v = pair.split("=", 1)
        _set(conf, k.strip(), v.strip())


def session_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    env=None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds with (pure; unit-testable without a
    JVM): the defaults, then ``shuffle_partitions``, then
    ``$SPARK_GRAFT_EXTRA_CONF``, then the caller's ``extra_conf``
    (caller wins).  Both later layers merge ``*.extraJavaOptions``
    into the tuned defaults (``_set``)."""
    if env is None:
        env = os.environ
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Environment passthrough for deployment-specific conf (the same
    # code must run local[N] and cluster without edits), e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.cleaner.periodicGC.interval=60s".
    apply_env_conf(conf, env.get("SPARK_GRAFT_EXTRA_CONF"))
    for k, v in (extra_conf or {}).items():
        _set(conf, k, v)
    return conf


def resolve_master(master: str | None, env=None) -> str | None:
    """Pure master-resolution policy (unit-testable without a JVM).

    Explicit arg > ``$SPARK_MASTER_URL`` > spark-submit's own
    ``--master`` (signalled by ``PYSPARK_GATEWAY_PORT``, which
    PythonRunner sets in the launched driver's environment — returning
    None leaves the builder master-less so the gateway's conf wins) >
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    if env is None:
        env = os.environ
    if master is not None:
        return master
    master = env.get("SPARK_MASTER_URL")
    if master is not None:
        return master
    if "PYSPARK_GATEWAY_PORT" in env:  # spark-submit: defer to gateway
        return None
    cpus = env.get("SPARK_GRAFT_CPUS", "*")
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "real_time_stream_processing_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Master resolution: the explicit ``master`` arg, else
    ``$SPARK_MASTER_URL`` (passed THROUGH to the builder — Spark core
    never reads that env var itself, so checking-without-passing left
    the master unset entirely; r5 review catch), else spark-submit's
    pre-set ``spark.master`` conf, else ``local[$SPARK_GRAFT_CPUS]``.

    spark-submit detection (r5 advice): probing ``SparkConf()`` before
    the JVM gateway exists always returns False (``SparkContext._jvm``
    is None at first call), so the old conf probe unconditionally forced
    local mode, clobbering ``--master``.  PythonRunner launches the
    python driver with ``PYSPARK_GATEWAY_PORT`` in its environment —
    that env var is the reliable pre-JVM signal that a gateway (and its
    ``spark.master``) already exists, so we only default to local when
    it is absent.

    When this call launches the driver JVM (no gateway yet and none
    given by spark-submit), the JVM starts from the class-data archive
    (``jvm_archive.archived_launch``).
    """
    builder = SparkSession.builder.appName(app_name)
    master = resolve_master(master)
    if master:
        builder = builder.master(master)
    conf = session_conf(shuffle_partitions, extra_conf)
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    with archived_launch(conf) if launches else contextlib.nullcontext():
        for k, v in conf.items():
            builder = builder.config(k, v)
        return builder.getOrCreate()
