"""SparkSession factory with scale-oriented defaults.

The reference needs none of this (5-node, tuple-at-a-time over TCP,
``Node.java:963-975``); on Spark the 100 TB posture is configuration:
AQE for runtime re-planning + skew handling, partition sizing so map
tasks stay ~128 MB, Arrow for any Python-side exchange, and broadcast
thresholds so dimension joins never shuffle the fact table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
    # Override via SPARK_GRAFT_EXTRA_CONF (extraJavaOptions MERGE with
    # these defaults; the env flag wins on conflict).
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
}


def apply_env_conf(conf: dict[str, str], env_conf: str | None) -> None:
    """Apply ``SPARK_GRAFT_EXTRA_CONF``'s semicolon-separated k=v pairs
    onto ``conf`` in place (pure; unit-testable without a JVM).

    Limitation (r12 advice): entries split on ';' BEFORE '=', so a
    conf VALUE containing a semicolon is unrepresentable here — pass
    such values via ``get_spark(extra_conf=...)`` instead.

    ``*.extraJavaOptions`` values MERGE with the tuned defaults instead
    of silently dropping them (r12 advice: overriding extraJavaOptions
    used to lose -XX:G1HeapRegionSize=32m).  Defaults come first so an
    env flag naming the same option wins (the JVM takes the LAST
    occurrence of a repeated flag)."""
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
        k, v = k.strip(), v.strip()
        if k.endswith("extraJavaOptions") and k in conf:
            v = f"{conf[k]} {v}"
        conf[k] = v


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
    """
    builder = SparkSession.builder.appName(app_name)
    master = resolve_master(master)
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Environment passthrough for deployment-specific conf (the same
    # code must run local[N] and cluster without edits): semicolon-
    # separated k=v pairs, applied between the defaults and the
    # caller's explicit extra_conf (caller wins).  E.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.cleaner.periodicGC.interval=60s".
    apply_env_conf(conf, os.environ.get("SPARK_GRAFT_EXTRA_CONF"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
