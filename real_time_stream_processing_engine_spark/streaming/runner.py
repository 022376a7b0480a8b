"""Structured Streaming backend.

Replaces the reference's RainStorm delivery plane — per-tuple TCP with
ACK + 5 s retry, at-least-once, duplicates possible on retry
(``Node.java:915-1046``, retry scheduler ``Node.java:1547-1564``, unused
dedup set ``Node.java:117``) — with checkpointed Structured Streaming:
exactly-once stateful results, failure recovery from the write-ahead log
instead of tuple re-send (``Node.java:1048-1085``).

The same :mod:`..operators.core` transforms apply to streaming
DataFrames; ``readStream`` vs ``read`` is the only switch (SURVEY.md §1.4).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
import warnings
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import convert_ts_cols, read_schema_for
from ..sources.fsmeta import hadoop_path_exists


def _scratch_dir() -> str:
    """Scratch base for checkpoints/staging.  Honors
    ``SPARK_GRAFT_SCRATCH``; otherwise prefers tmpfs (/dev/shm) — local
    checkpoints are commit-log fsync-bound, and a dev/bench loop has no
    durability requirement (a real deployment points this at HDFS/S3)."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm"
    return tempfile.gettempdir()


def _stage_symlink_dir(tag: str, links: dict[str, str]) -> str:
    """Stage a directory of symlinks under scratch, safely.

    The dir is namespaced per-user (uid) and keyed by the *content* of
    the requested layout (link names + targets), so a layout change
    gets a fresh directory instead of silently reusing a stale one.
    Every pre-existing entry is validated: anything that is not a
    symlink to the expected target (a foreign file squatted into the
    shared path, a link left by an older layout) fails loudly rather
    than silently altering stream input."""
    key = uuid.uuid5(
        uuid.NAMESPACE_URL, "|".join(f"{n}->{t}" for n, t in sorted(links.items()))
    ).hex
    d = os.path.join(_scratch_dir(), f"rs_{tag}_u{os.getuid()}_{key}")
    os.makedirs(d, exist_ok=True, mode=0o700)
    for name, target in links.items():
        link = os.path.join(d, name)
        if os.path.islink(link):
            if os.readlink(link) == target:
                continue
            raise RuntimeError(f"stale staging link {link} -> {os.readlink(link)}, expected {target}")
        if os.path.exists(link):
            raise RuntimeError(f"foreign non-symlink entry in staging dir: {link}")
        try:
            os.symlink(target, link)
        except FileExistsError:
            # lost a race with a concurrent stager of the SAME layout
            # (the dir is deliberately shared per-uid + content key) —
            # fine iff the winner created exactly the expected link
            if not (os.path.islink(link) and os.readlink(link) == target):
                raise
    extra = set(os.listdir(d)) - set(links)
    if extra:
        raise RuntimeError(f"unexpected entries in staging dir {d}: {sorted(extra)}")
    return d


def _fresh_symlink_dir(tag: str, links: dict[str, str]) -> str:
    """A new private staging dir for a drain whose checkpoint is fresh
    too: nothing can resume from it, so the caller removes it when the
    drain ends (a shared content-keyed dir would outlive every run)."""
    d = tempfile.mkdtemp(prefix=f"rs_{tag}_u{os.getuid()}_", dir=_scratch_dir())
    for name, target in links.items():
        os.symlink(target, os.path.join(d, name))
    return d


def _as_stream_dir(path: str) -> str:
    """Spark's file stream source requires a directory; the testdata
    tables are single parquet files.  Stage a symlink dir (no copy).

    FLAT directories (every part a direct child) pass through
    UNCHANGED (r7 advice): staging snapshots the part list at stream
    construction, so a live drop-zone directory would silently never
    stream files that land after start — the continuous-ingest case
    the maxFileAge=36500d setting explicitly targets.  Spark's file
    source polls a raw flat directory for new arrivals on every
    trigger, which is the semantics an ingest caller expects.

    Single files and NESTED directories still stage one link per part
    (the file stream source lists non-recursively, so an unstaged
    nested drop-zone would silently stream only top-level files);
    staged nested sources are therefore FROZEN at start, and hive
    layouts are refused loudly by `_expand_links`, exactly as for the
    five maintained-table paths.

    A ``file:``-spelled LOCAL path is normalized first (r9, same
    policy as every other driver-local consumer): the os-level listing
    below would otherwise refuse a directory Spark itself reads."""
    from ..sources.fsmeta import list_part_files, strip_file_scheme

    path = strip_file_scheme(path)
    parts = list_part_files(path)
    if parts != [path]:
        entries = [
            e for e in os.listdir(path) if not e.startswith(("_", "."))
        ]
        # flat = every part a direct child AND no stray non-parquet
        # entries (a .csv in the drop zone would feed the raw parquet
        # stream reader; staging used to filter it — keep that safety
        # by falling back to staging for mixed-content dirs)
        all_direct = all(
            os.path.dirname(os.path.relpath(p, path)) == "" for p in parts
        )
        if all_direct:
            if len(entries) == len(parts):
                return path
            # Flat layout, but stray non-parquet entries force the
            # staged (snapshot-at-start) path.  That DEMOTES a live
            # drop-zone to a frozen file list — files landing after
            # stream start are silently never streamed — so say so
            # loudly instead of letting the caller discover a frozen
            # ingest by absence (r8 advice).
            strays = sorted(
                set(entries)
                - {os.path.relpath(p, path) for p in parts}
            )
            warnings.warn(
                f"stream source directory {path!r} is flat but contains "
                f"non-parquet entries {strays[:5]!r}; staging a snapshot "
                "of its current part files instead of polling it live — "
                "files added after stream start will NOT be streamed. "
                "Remove the stray entries to get live drop-zone polling.",
                RuntimeWarning,
                stacklevel=2,
            )
    return _stage_symlink_dir("streamdir", _expand_links("streamdir", path))


def _expand_links(prefix: str, src_path: str) -> dict[str, str]:
    """Per-part symlink map for one source table, file OR directory.

    The file stream source lists a directory NON-recursively, so a
    multi-file table (directory of part files — the multi-batch test
    layout, and any real ingest drop zone) must be staged as one link
    per part, not one link to the directory.  Part discovery goes
    through the shared filter in :mod:`sources.fsmeta`."""
    from ..sources.fsmeta import list_part_files

    parts = list_part_files(src_path)
    if parts == [src_path]:
        return {f"{prefix}.parquet": src_path}
    # Key links by the path RELATIVE to src_path with separators
    # flattened, not by basename: part discovery is recursive, and
    # nested drop-zone layouts (batch1/part-00000, batch2/part-00000)
    # repeat part filenames across subdirectories — basename keys
    # silently collapsed those to one link (r5 advice: silent data
    # loss).  HIVE-partitioned layouts are refused outright: their
    # key=value directory names carry column VALUES that a flattened
    # symlink dir cannot represent (Spark parses partition values from
    # directory names only), so staging one would stream rows missing
    # the partition columns the batch reader resolves — the same
    # refuse-dont-flatten contract as catalog.merge_table (r6 review
    # catch).
    links: dict[str, str] = {}
    for p in parts:
        rel = os.path.relpath(p, src_path) if p != src_path else os.path.basename(p)
        comps = rel.split(os.sep)[:-1]
        hive = [c for c in comps if "=" in c]
        if hive:
            raise RuntimeError(
                f"refusing to stage hive-partitioned layout {src_path!r} as a "
                f"flat stream dir: directory component(s) {hive} carry "
                "partition-column values that symlink flattening would drop "
                "(rows would stream without those columns). Point the stream "
                "at a flat copy, or read the directory directly."
            )
        name = f"{prefix}_{rel.replace(os.sep, '__')}"
        if name in links:
            raise RuntimeError(
                f"duplicate staged link name {name!r} for {links[name]} and {p}"
            )
        links[name] = p
    return links


# Files per micro-batch forced on every events file stream; None leaves
# the caller's own choice.  The multi-batch differential suite sets it
# to 1 so the query functions run through real micro-batch sequences
# (the watermark advances BETWEEN batches) instead of the one-shot
# availableNow drain that hid the sliding-WAU watermark bug.
_FORCED_MAX_FILES: int | None = None


def _read_events_stream(
    spark: SparkSession, src_path: str, stream_dir: str, max_files: int | None
) -> DataFrame:
    """The one reader setup for every events file stream: the schema
    and timestamp conversion are unit-sniffed from ``src_path`` and
    SHARED with load_table, so batch and stream reads can never diverge
    on the timestamp unit.  ``stream_dir`` is what the file source
    polls (the table itself or a staged symlink dir)."""
    schema, conv = read_schema_for("events", src_path)
    # maxFileAge defaults to 7d: on a long-running stream a backfill
    # file whose mtime is >7d older than the newest seen file is
    # SILENTLY never picked up, breaking stream==batch (r7 review).
    # The seen-files map this grows is bounded by file count, not data.
    reader = spark.readStream.schema(schema).option("maxFileAge", "36500d")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return convert_ts_cols(reader.parquet(stream_dir), conv)


def stream_events(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events table (the reference's chunk
    stream, E1).  ``maxFilesPerTrigger`` is the backpressure knob the
    reference lacks (busy-wait blast, ``RainStorm.java:1292-1296``);
    an explicit value wins over ``_FORCED_MAX_FILES``."""
    path = os.path.join(sf_dir, "events.parquet")
    if max_files_per_trigger is None:
        max_files_per_trigger = _FORCED_MAX_FILES
    return _read_events_stream(spark, path, _as_stream_dir(path), max_files_per_trigger)


def stream_rate(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Unbounded rate source: (timestamp, value) tuples generated
    forever — the no-dependency stand-in for the reference's continuous
    stage-1 tuple flow (``Node.java:915-981``) when no external feed is
    wired up.  Use with :func:`run_continuous`."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def stream_socket(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """Unbounded socket text source (one tuple per line) — the direct
    analogue of the reference's TCP tuple server
    (``Node.java:1434-1464``): a live producer writes lines to
    ``host:port`` and they flow through the same operator chain as file
    batches.  At-most-once on its own (no offset tracking in the TCP
    protocol) — parity with what the reference's socket actually
    guarantees before its ACK layer; production feeds use a replayable
    log source instead."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def run_continuous(
    df: DataFrame,
    name: str | None = None,
    trigger_interval: str = "1 second",
    output_mode: str = "append",
    checkpoint: str | None = None,
):
    """Start a NAMED long-running streaming query into a memory sink and
    return the live ``StreamingQuery`` — the operational parity surface
    for the reference's job lifecycle (start -> stream -> observe ->
    stop, ``Node.java:1376-1403`` / ``RainStorm.java:842-877``):

    - ``q.status`` / ``q.lastProgress``  — observe
    - ``spark.table(name)``              — read results so far
    - ``q.stop()`` / ``q.awaitTermination(t)`` — lifecycle

    Unlike :func:`run_to_memory_available_now` this does NOT drain and
    stop: the processing-time trigger keeps firing until ``stop()``,
    which is the reference's continuous posture.  The caller owns the
    returned query.  An explicit ``checkpoint`` is used as given;
    without one, Spark gives the memory sink a temporary checkpoint of
    its own and deletes it when the query stops cleanly (a fresh one
    per start, so a named query never trips over a previous run's
    offsets)."""
    qname = name or f"rs_live_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.format("memory").queryName(qname).outputMode(output_mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(processingTime=trigger_interval).start()


@dataclass(frozen=True)
class DrainReport:
    """What one :func:`run_to_memory_available_now` drain produced: the
    drained table and the engine's own accounting, each summed over
    the drain's micro-batches.

    - ``observed``: ``{observation: {metric: total}}`` from any
      ``df.observe(name, ...)`` upstream — the tuple accounting the
      reference leader scraped from per-task logs
      (``Node.java:1162-1187``), computed IN the dataflow here.
    - ``state``: state-operator metrics, e.g.
      ``numRowsDroppedByWatermark`` (late rows the watermark
      discarded) and ``commitTimeMs`` (state-store commits).
    - ``phases_ms``: the ``durationMs`` phases (``triggerExecution``,
      ``queryPlanning``, ``addBatch``, ``walCommit``,
      ``commitOffsets``, ...) — per-batch coordination split from
      compute."""

    frame: DataFrame
    observed: dict[str, dict[str, float]]
    state: dict[str, float]
    phases_ms: dict[str, float]


# Per-micro-batch cost scales with the number of state-store partitions
# (each one loads, commits, and fsyncs per batch) — for a drain over
# local testdata, 32 stores of a few keys each is pure overhead (~4
# s/query -> ~1.5 s at 8; the r12 isolated sweep re-measured 8 vs 2
# across q42/q136/q30 at 6.1/3.7/3.2 s -> 3.9/2.9/2.0 s).  The state
# partition count is fixed by the checkpoint's first batch, so this
# only applies to fresh checkpoints.
_DRAIN_SHUFFLE_PARTITIONS = "2"


def _add_numbers(total: dict, metrics: dict) -> None:
    for k, v in metrics.items():
        if isinstance(v, (int, float)):
            total[k] = total.get(k, 0) + v


def run_to_memory_available_now(
    agg: DataFrame, output_mode: str = "complete", name_prefix: str = "rs_mem"
) -> DrainReport:
    """Drain a streaming aggregation with Trigger.AvailableNow into a
    memory sink and return a :class:`DrainReport` whose ``frame`` is
    the final table.  Used by correctness checks: stream-end state must
    equal the batch answer.

    CONTRACT: drains are single-threaded per session — the conf
    set/restore around the drain is not safe against two concurrent
    drains on one SparkSession.  Nothing outlives the call but the
    report: the tmpfs checkpoint is reclaimed and the memory-sink view
    dropped (the frame keeps the sink's rows), on the exception path
    too."""
    spark = agg.sparkSession
    qname = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(_scratch_dir(), f"rs_ckpt_{qname}")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # recentProgress is a RING BUFFER (default 100 entries); a drain
    # with more micro-batches than that would silently undercount the
    # summed metrics below — size it for the drain
    prev_progress = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", None
    )
    try:
        spark.conf.set("spark.sql.shuffle.partitions", _DRAIN_SHUFFLE_PARTITIONS)
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        observed: dict[str, dict[str, float]] = {}
        state: dict[str, float] = {}
        phases: dict[str, float] = {}
        for p in q.recentProgress:
            _add_numbers(phases, p["durationMs"])
            for op in p["stateOperators"]:
                _add_numbers(state, op)
            for obs_name, row in p["observedMetrics"].items():
                _add_numbers(observed.setdefault(obs_name, {}), row.asDict())
        frame = spark.table(qname)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_progress:
            spark.conf.set(
                "spark.sql.streaming.numRecentProgressUpdates", prev_progress
            )
        else:
            spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
        # this checkpoint is fresh-uuid per call, so nothing can ever
        # resume from it; the sink's rows live in the driver-side
        # MemorySink that the resolved frame holds, not in the view
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(qname)
    return DrainReport(frame, observed, state, phases)


def stream_grouped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: streaming running count per event_type; exactly-once state,
    stream-end == batch groupBy count."""
    src = stream_events(spark, sf_dir)
    agg = src.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return run_to_memory_available_now(agg).frame


def _windowed_event_counts(
    spark: SparkSession, sf_dir: str, slide: str | None
) -> DataFrame:
    """Shared body of the tumbling/hopping drains (they differ ONLY in
    the slide argument — factored r7 so a watermark/projection fix
    cannot reach one and miss the other)."""
    src = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    w = (
        F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
    ).alias("w")
    agg = (
        src.groupBy(w, "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    return run_to_memory_available_now(agg).frame


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-time tumbling windows on the stream.  Output
    matches the batch tumbling aggregate at stream end.

    Late-data policy: this drain uses COMPLETE output mode, where the
    declared watermark is carried but INERT — Spark neither drops late
    rows nor evicts window state in complete mode, which is what makes
    stream-end == batch the checkable contract here (r7 review: the
    docstring used to claim 2 h drops).  The enforced drop/evict
    policy lives in the append-mode pipelines differentially pinned by
    ``tests/test_watermark_lateness.py`` (too-late dropped and counted
    in ``numRowsDroppedByWatermark``, in-horizon late merged); an
    unbounded deployment of THIS aggregate must switch to append or
    update mode for the watermark to bound state."""
    return _windowed_event_counts(spark, sf_dir, slide=None)


def stream_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows on the stream: 1 h width,
    30 min slide — q53's streaming twin.  Each event lands in 2
    overlapping windows.  Stream-end equals the batch hopping
    aggregate.  Same complete-mode late-data posture as
    :func:`stream_tumbling_counts` (watermark inert in the drain;
    append/update mode makes it bind on an unbounded deployment)."""
    return _windowed_event_counts(spark, sf_dir, slide="30 minutes")


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery emulation + exactly-once dedup (E4 parity).

    The source directory stages the SAME events file twice — every tuple
    arrives (at least) twice, exactly like the reference's 5 s retry
    resend path (``Node.java:1547-1564``), whose unused dedup set
    (``Node.java:117``) lets retries overcount.
    ``dropDuplicatesWithinWatermark`` on the tuple id makes redelivery
    invisible — stream-end counts equal the batch answer over the ONE
    copy — while keeping the dedup state BOUNDED: ids older than the
    event-time watermark are evicted, so on an unbounded stream the
    state store holds one watermark-window of ids, not every id ever
    seen (a retry storm redelivers within seconds; the 2 h window is
    generous)."""
    src_path = os.path.join(sf_dir, "events.parquet")
    d = _fresh_symlink_dir(
        "dupdir",
        {**_expand_links("events_a", src_path), **_expand_links("events_b", src_path)},
    )
    try:
        src = _read_events_stream(
            spark, src_path, d, _FORCED_MAX_FILES
        ).withWatermark("ts", "2 hours")
        deduped = src.dropDuplicatesWithinWatermark(["event_id"])
        agg = deduped.groupBy("event_type").agg(F.count("*").alias("cnt"))
        # the memory sink holds the rows; the drain reads d no more
        return run_to_memory_available_now(agg).frame
    finally:
        shutil.rmtree(d, ignore_errors=True)


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30 min gap) over the event stream —
    the streaming form of the batch sessionization (q24); session count
    and per-session event counts match it at stream end.

    Complete mode BY DESIGN for the drain-end oracle: append mode (the
    bounded-state production posture, a watermark GCing closed
    sessions) correctly WITHHOLDS sessions inside the final watermark
    horizon — the event-time watermark is max(ts) - delay and can never
    pass the last sessions, so a drain under-emits exactly those (the
    streaming-correct answer, but not the batch answer; measured 943 of
    946 sessions at sf0.001 with a 2 h watermark).  An unbounded
    deployment adds ``withWatermark`` + append; the oracle pins the
    complete-mode equality."""
    src = stream_events(spark, sf_dir)
    agg = (
        src.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )
    return run_to_memory_available_now(agg).frame


def stream_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9's literal semantics as a CUSTOM stateful operator:
    ``applyInPandasWithState`` holds one count per key — the distributed,
    checkpointed version of the reference's task-local
    ``Map<String,Integer>`` (``Operators.java:21``, ``:93-100``), which
    lived in one JVM and died with it.  Emits the running total per key
    per micro-batch in update mode."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_count(key, pdfs, state: GroupState):
        running = state.get[0] if state.exists else 0
        for pdf in pdfs:
            running += len(pdf)
        state.update((running,))
        yield pd.DataFrame({"event_type": [key[0]], "cnt": [running]})

    src = stream_events(spark, sf_dir)
    out = src.groupBy("event_type").applyInPandasWithState(
        update_count,
        outputStructType="event_type string, cnt long",
        stateStructType="cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    spark_df = run_to_memory_available_now(out, output_mode="update").frame
    # update-mode sink appends one row per key per batch; the final
    # running total per key is the max (counts are monotone).
    return spark_df.groupBy("event_type").agg(F.max("cnt").alias("cnt"))


def _maintain_table(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
    target_path: str | None,
    checkpoint: str | None,
    fail_after_batches: int | None = None,
    *,
    ledger: bool,
    copies: tuple[str, ...] = ("events",),
    seed: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """The one update loop behind every maintained table: a parquet target
    that a ``foreachBatch`` stream over the events table updates behind
    ``catalog.replace_contents``' atomic swap, drained with
    ``Trigger.AvailableNow``; returns the target as read back.

    Each micro-batch calls ``merge(batch, prev)`` with ``prev`` the
    current target (``None`` before the first write) and swaps the
    result in.  ``ledger`` adds the batch-id ledger for merges that are
    NOT idempotent: ``last_batch`` and ``last_ckpt`` ride in the target
    rows, swapped atomically with them, so a replayed batch id <= the
    ledger is skipped whole and a foreign checkpoint is refused
    (:func:`_check_ledger_ckpt`).  ``copies`` stages the events table
    once per name (two = every tuple redelivered); ``seed`` builds the
    initial target when none exists.

    ``target_path``/``checkpoint`` default to fresh scratch dirs
    (``rs_<tag>_target_*``, ``rs_ckpt_rs_<tag>_*``); pass both
    explicitly to RESUME an interrupted run from its checkpoint.  A
    default checkpoint is unresumable by construction, so it and its
    source staging dir are reclaimed when the drain ends, cleanly or
    not; an explicit one keeps the shared staging dir whose link paths
    its file-source log records.  ``fail_after_batches``
    is the crash-injection hook: the sink raises after N applied
    batches, exactly like an executor/driver loss mid-stream, and the
    drain raises it to the caller."""
    from ..sources.catalog import recover_swap, replace_contents

    src_path = os.path.join(sf_dir, "events.parquet")
    links = {k: v for c in copies for k, v in _expand_links(c, src_path).items()}
    default_ckpt = checkpoint is None
    if target_path is None:
        target_path = os.path.join(
            _scratch_dir(), f"rs_{tag}_target_u{os.getuid()}_{uuid.uuid4().hex[:8]}"
        )
    ckpt = checkpoint or os.path.join(
        _scratch_dir(), f"rs_ckpt_rs_{tag}_{uuid.uuid4().hex[:8]}"
    )
    # recover_swap first: a crash inside replace_contents' rename window
    # leaves the target briefly missing but fully recoverable from its
    # swap siblings — seeding in that state would silently drop every
    # batch the checkpoint already marked committed.  The seed goes
    # through the SAME atomic swap as every batch write: a plain
    # write.parquet could crash mid-commit and leave a partial dir that
    # recover_swap's existence check would treat as a complete table.
    if not recover_swap(spark, target_path) and seed is not None:
        replace_contents(seed(), target_path)

    n_applied = 0

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_applied
        if fail_after_batches is not None and n_applied >= fail_after_batches:
            raise RuntimeError("injected sink crash (fail_after_batches)")
        s = batch.sparkSession
        # Only the missing-target case (first batch) may merge from
        # nothing; any other read failure propagates so the checkpoint
        # retries the batch instead of silently resetting the table to
        # one batch's worth.
        prev = None
        if hadoop_path_exists(s, target_path):
            prev = s.read.parquet(target_path)
            if ledger:
                head = prev.select(
                    F.max("last_batch").alias("b"), F.max("last_ckpt").alias("c")
                ).head()
                _check_ledger_ckpt(head.c, ckpt, target_path)
                if head.b is not None and batch_id <= head.b:
                    return  # replayed batch: the ledger makes it a no-op
                prev = prev.drop("last_batch", "last_ckpt")
        merged = merge(batch, prev)
        if ledger:
            merged = merged.withColumn("last_batch", F.lit(batch_id)).withColumn(
                "last_ckpt", F.lit(_norm_ckpt(ckpt))
            )
        replace_contents(merged, target_path)
        n_applied += 1

    d = (_fresh_symlink_dir if default_ckpt else _stage_symlink_dir)(
        f"{tag}dir", links
    )
    try:
        src = _read_events_stream(spark, src_path, d, _FORCED_MAX_FILES or 1)
        (
            src.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        if default_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(target_path).drop("last_batch", "last_ckpt")


def stream_cdc_upsert(
    spark: SparkSession,
    sf_dir: str,
    target_path: str | None = None,
    checkpoint: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Streaming CDC: ``foreachBatch`` + versioned idempotent merge =
    exactly-once effects over at-least-once delivery.

    The source stages the SAME events file twice with
    ``maxFilesPerTrigger=1`` — every tuple arrives in (at least) two
    micro-batches, the reference's retry-storm delivery
    (``Node.java:1547-1564``).  Each batch: latest-wins rank within
    the batch, then :func:`..operators.cdc.apply_upsert_versioned`
    into a parquet target seeded from the customer dim (see
    :func:`_maintain_table`).  The STRICTLY-newer version gate
    makes the redelivered batch a no-op, so the final target equals
    the batch answer (q67's mapping + version ledger) no matter the
    batch count or order — sink-side dedup with a durable ledger,
    where q30 dedups in the state store instead.

    ``target_path``/``checkpoint`` default to fresh scratch dirs; pass
    both explicitly to RESUME an interrupted run — the checkpoint
    replays unfinished batches, and the version gate makes any batch
    that already half-applied idempotent.  ``fail_after_batches`` is
    the crash-injection hook for that test: the drain raises after N
    applied batches."""
    from pyspark.sql import Window

    from ..operators.cdc import apply_upsert_versioned
    from ..sources.readers import load_table

    def seed() -> DataFrame:
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(None).cast("timestamp").alias("ver_ts"),
            F.lit(None).cast("long").alias("ver_event_id"),
        )

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        updates = (
            batch.select("user_id", "value", "ts", "event_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                (F.col("user_id") * 20 + 1).alias("c_custkey"),
                F.round("value", 2).alias("new_bal"),
                F.concat(
                    F.lit("cdc#"), F.col("user_id").cast("string")
                ).alias("new_name"),
                "ts",
                "event_id",
            )
        )
        return apply_upsert_versioned(
            prev,
            updates,
            key_cols=["c_custkey"],
            set_cols={"c_acctbal": "new_bal"},
            version_cols={"ver_ts": "ts", "ver_event_id": "event_id"},
            insert_only_cols={"c_name": "new_name"},
        )

    final = _maintain_table(
        spark, sf_dir, "cdc", merge, target_path, checkpoint, fail_after_batches,
        ledger=False, copies=("events_a", "events_b"), seed=seed,
    )
    return final.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.unix_micros("ver_ts").alias("ver_ts_us"),
        "ver_event_id",
    )


def stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel: per-user ordered stage machine (view ->
    click-after-view -> purchase-after-click) as a CUSTOM buffered-state
    operator — the ``applyInPandasWithState`` pattern q32's running
    count doesn't exercise: state holds the user's funnel-relevant
    event history (ts + type arrays), each batch recomputes the exact
    stage over the buffer, and update-mode emissions are monotone (more
    events can only advance a funnel stage), so the max emission per
    user is the stream-end answer.  On an unbounded deployment the
    buffer is bounded by watermark eviction after stage-3 or horizon
    expiry; the drain-end state here equals the batch funnel (q79's
    oracle).  Returns (user_id, stage) — one row per user with their
    final stage 1-3 (users with no view emit nothing).

    STATE-FORMAT NOTE (r12 advice): the persisted ``ts`` array changed
    unit in r12 from epoch-NANOS to epoch-MICROS (the vectorized
    ingestion projects ``unix_micros``).  Every caller here drains
    availableNow with a FRESH checkpoint, so no old-format state can
    be resumed; a deployment that ever resumes long-lived checkpoints
    across code versions must version the checkpoint location (or the
    state schema) when the unit changes — mixing units in one buffer
    would silently corrupt stage ordering."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        ts, tp = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        for pdf in pdfs:
            # vectorized batch ingestion (r12 opt): ts arrives as an
            # int64 epoch-micros column (projected below), so the whole
            # batch lands via two tolist() calls instead of a per-row
            # pandas-Timestamp .value + str() loop.  Stage logic only
            # compares timestamps, and micros preserve ns order.
            ts.extend(pdf["ts"].tolist())
            tp.extend(pdf["event_type"].tolist())
        state.update((ts, tp))
        views = [t for t, y in zip(ts, tp) if y == "view"]
        stage = 0
        if views:
            stage = 1
            vt = min(views)
            clicks = [t for t, y in zip(ts, tp) if y == "click" and t > vt]
            if clicks:
                stage = 2
                ct = min(clicks)
                if any(t > ct for t, y in zip(ts, tp) if y == "purchase"):
                    stage = 3
        if stage:
            yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})

    src = stream_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", F.unix_micros("ts").alias("ts"), "event_type")
    out = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, stage int",
        stateStructType="ts array<long>, tp array<string>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_to_memory_available_now(out, output_mode="update").frame
    # update mode appends one row per user per batch; stage is monotone
    # in the event set, so the final stage is the max
    return drained.groupBy("user_id").agg(F.max("stage").alias("stage"))


def stream_window_leaderboard(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Continuous leaderboard: hourly event-time windows stream into a
    checkpointed (window, user) count state (the declared 2 h
    watermark bounds it only under append/update mode — this
    complete-mode drain retains all windows, same posture as
    :func:`stream_tumbling_counts`, r7 review);
    the per-window top-k rank runs over the drained stream-end state —
    rank is NOT stateful (a late event can reshuffle the board), so
    the streaming part maintains exactly the commutative aggregate and
    the rank stays a cheap batch view over it.  Stream end equals the
    batch window+rank answer (the oracle)."""
    from pyspark.sql import Window

    src = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "user_id",
            "n_events",
        )
    )
    state = run_to_memory_available_now(agg).frame
    rk = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        state.withColumn("rk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rk") <= k)
        .select("window_start", "rk", "user_id", "n_events")
    )


def stream_stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each click joined to the same user's
    purchases within the following hour.

    The reference cannot express any join, let alone a stateful
    streaming one (SURVEY.md §2.5).  Here both sides buffer in the
    state store; the watermark + time-range condition bound how long a
    click/purchase is retained (2 h after event time), so state is
    GC-able and the join runs forever on an unbounded stream.  Inner
    matches emit immediately — no output is withheld at drain end, so
    stream-end equals the batch self-join (the oracle)."""
    return _click_purchase_interval_join(spark, sf_dir, how="inner")


def stream_stream_click_purchase_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits — with
    its purchase if one lands within the hour, with NULLs otherwise.

    The outer side is the genuinely stateful half: an unmatched click
    cannot emit until the engine can PROVE no matching purchase is
    still coming, i.e. until the watermark passes the end of the
    click's join window (c_ts + 1 h).  Matched rows emit immediately
    (inner semantics); null rows emit in the no-data micro-batch that
    follows the final watermark advance (SPARK-24156's eager state
    cleanup), which ``Trigger.AvailableNow`` runs before terminating.
    Clicks younger than watermark-delay + window at stream end are
    still held in state — callers wanting a deterministic batch
    equivalence must restrict to the emitted horizon
    (c_ts + 1 h < max_ts - 2 h), which is exactly what q96 does."""
    return _click_purchase_interval_join(spark, sf_dir, how="leftOuter")


def _click_purchase_interval_join(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Shared body of the stream-stream click→purchase interval joins
    (the inner and leftOuter variants were 45-line verbatim copies
    differing only in the join type — factored r7 so a condition/
    watermark/projection fix cannot silently reach only one)."""
    src = stream_events(spark, sf_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    buys = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("b_ts", "2 hours")
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("c_ts"))
        & (F.col("b_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        F.unix_timestamp("c_ts").alias("click_ts"),
        F.unix_timestamp("b_ts").alias("purchase_ts"),
        F.round("purchase_value", 2).alias("purchase_value"),
    )
    return run_to_memory_available_now(joined, output_mode="append").frame


def _norm_ckpt(path: str) -> str:
    """Canonical spelling of a checkpoint path for ledger identity:
    strip the file: scheme (any of Hadoop's spellings — `file:/p`,
    `file://p`, `file:///p`), trailing slashes, and (local paths only)
    resolve symlinks — so `file:///tmp/ck/`, `file:/tmp/ck`, `/tmp/ck`,
    and a symlinked scratch spelling of the same checkpoint compare
    equal instead of falsely refusing a legitimate same-checkpoint
    resume (r7+r8 advice: the single-slash `file:/tmp/ck` canonical
    form has no `://`, so the old `file://`-only strip let it fall
    through to realpath, which joined it onto the cwd).
    Non-local URIs (hdfs://, s3a://) only lose trailing slashes —
    realpath would mangle them.  The scheme strip is the shared
    :func:`sources.fsmeta.strip_file_scheme` (r9: one normalizer for
    every driver-local path consumer)."""
    from ..sources.fsmeta import strip_file_scheme

    p = strip_file_scheme(path)
    if "://" in p:
        return p.rstrip("/")
    return os.path.realpath(p)


def _check_ledger_ckpt(recorded: str | None, ckpt: str, target_path: str) -> None:
    """foreachBatch batch ids are CHECKPOINT-LOCAL: a maintained table
    whose ledger was written from a different checkpoint cannot be
    safely continued (new ids restart at 0 <= the old ledger, so every
    batch silently skips — or double-applies if the old run was
    shorter).  Refuse loudly instead (r7 review).  Both sides compare
    NORMALIZED (`_norm_ckpt`) so equivalent spellings of one
    checkpoint — trailing slash, file:// URI, symlinked scratch — do
    not refuse a legitimate resume."""
    if recorded is not None and _norm_ckpt(recorded) != _norm_ckpt(ckpt):
        raise RuntimeError(
            f"maintained table {target_path!r} was last written from "
            f"checkpoint {recorded!r}, but this stream runs from "
            f"{ckpt!r}: batch ids are checkpoint-local, so continuing "
            "would silently skip or double-apply batches. Pass the "
            "original checkpoint to resume, or a fresh target_path."
        )


def stream_countmin(
    spark: SparkSession,
    sf_dir: str,
    item_col: str = "user_id",
    target_path: str | None = None,
    checkpoint: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Maintain a count-min sketch OVER A STREAM: each micro-batch
    builds its own (row, bucket, c) grid and bucket-sum-merges it into
    a tiny parquet target behind the atomic swap — streaming heavy
    hitters with constant state regardless of key cardinality (the
    aggregation-state alternative holds one counter PER KEY).

    Counting is not latest-wins, so redelivered data would double —
    exactness comes from a batch-id ledger RIDING IN the sketch rows
    (``last_batch`` column, swapped atomically with the counts): a
    replayed foreachBatch id <= the ledger is skipped whole.  Batch
    ids are CHECKPOINT-LOCAL, so the ledger also records which
    checkpoint produced it (``last_ckpt``) and refuses a target/
    checkpoint mismatch loudly — reusing a maintained target with a
    fresh checkpoint would otherwise silently skip every new batch
    (ids restart at 0 <= ledger) or double-count (r7 review).  Merge
    associativity + the ledger give stream-end == batch-sketch EXACT
    equality (pinned in ``tests/test_streaming_live.py``)."""
    from ..operators.sketches import countmin_build, countmin_merge

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        items = batch.select(F.col(item_col).cast("string").alias("tok"))
        delta = countmin_build(items)
        return delta if prev is None else countmin_merge(prev, delta)

    return _maintain_table(
        spark, sf_dir, "cms", merge, target_path, checkpoint, fail_after_batches,
        ledger=True,
    )


def stream_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day sliding distinct users (the WAU curve) ON THE STREAM —
    q126's cover-expansion made continuous, and the repo's first
    CHAINED-stateful-operator pipeline: each event explodes to the 7
    day-windows it covers, a watermarked ``dropDuplicatesWithinWatermark``
    on (cover_day, user) makes every (user, covered day) count once,
    and a downstream tumbling window counts survivors per day — dedup
    state and agg state both watermark-evicted (Spark's multi-stateful
    append-mode support carries the watermark through the chain).

    COUNT DISTINCT over a sliding frame has no incremental streaming
    form; the cover-expansion turns it into dedup + tumbling count,
    both of which DO.  Stream-end output equals q126's batch answer
    plus the 6 trailing cover days the batch day-spine filter drops
    (the oracle keeps them; see the query docstring)."""
    return run_to_memory_available_now(
        sliding_wau_pipeline(stream_events(spark, sf_dir))
    ).frame


def sliding_wau_pipeline(src: DataFrame) -> DataFrame:
    """The cover-expand -> watermarked-dedup -> tumbling-count chain
    behind :func:`stream_sliding_wau`, over any streaming events
    source (tests feed it a choreographed multi-batch file stream).

    WATERMARK SIZING: the watermark column is ``cover_day``, which
    runs up to 6 DAYS AHEAD of the event that produced it — so the
    lateness budget must absorb that skew.  A bare 2 h delay on
    cover_day puts the watermark at max(event_day)+6d-2h, which is
    AHEAD of every cover row a later in-order source day generates
    (day d covers d..d+6, all below that mark): multi-batch runs
    would drop those rows from the dedup operator wholesale and
    undercount the curve.  ``6 days 2 hours`` = the 6-day cover
    expansion + the repo's standard 2 h event lateness policy, so
    the effective mark on EVENT time is max(event)-2h, and any event
    within 2 h lateness lands every one of its cover rows at or
    above the watermark (pinned multi-batch in
    ``tests/test_sliding_wau_multibatch.py``)."""
    covered = src.select(
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("ts")),
                F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("cover_day"),
        "user_id",
    ).withWatermark("cover_day", "6 days 2 hours")
    uniq = covered.dropDuplicatesWithinWatermark(["cover_day", "user_id"])
    return (
        uniq.groupBy(F.window("cover_day", "1 day").alias("w"))
        .agg(F.count("*").alias("wau"))
        .select(
            (F.unix_timestamp(F.col("w.start")) / 86400)
            .cast("long")
            .alias("day"),
            F.col("wau").cast("long").alias("wau"),
        )
    )


def stream_binned_counts(
    spark: SparkSession,
    sf_dir: str,
    target_path: str | None = None,
    checkpoint: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Maintain per-(event_type, value-bin) counts OVER A STREAM with
    the q105 additive-state recipe: each micro-batch's bin counts
    merge into a tiny parquet target behind the atomic swap, a
    batch-id ledger riding in the rows makes replays whole-batch
    no-ops — constant state (types x 10 bins), exactly-once without
    latest-wins semantics.  The ledger records its checkpoint
    (``last_ckpt``) and a target/checkpoint mismatch refuses loudly —
    batch ids are checkpoint-local (r7 review, same gate as
    stream_countmin).  The maintained table is the input every
    distribution monitor (PSI drift, q162) reads for free at any
    moment — the monitoring loop never rescans history."""

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = (
            batch.select(
                "event_type",
                F.least(F.lit(9), F.floor(F.col("value") / 10.0))
                .cast("long")
                .alias("bin"),
            )
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("n"))
        )
        if prev is None:
            return delta
        return (
            prev.unionByName(delta)
            .groupBy("event_type", "bin")
            .agg(F.sum("n").alias("n"))
        )

    return _maintain_table(
        spark, sf_dir, "psi", merge, target_path, checkpoint, fail_after_batches,
        ledger=True,
    )


def stream_bitmap_dau(
    spark: SparkSession,
    sf_dir: str,
    target_path: str | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Maintain EXACT daily distinct users over a stream as (day, word,
    bits) bitmaps: each micro-batch's bitmap OR-merges into the target.

    The instructive contrast with q105/q162's additive recipe: bitmap
    OR is IDEMPOTENT — a replayed batch ORs in bits that are already
    set and changes nothing — so exactly-once needs NO batch-id
    ledger; the merge's algebra alone absorbs redelivery (the same
    reason q69's latest-wins CDC needs none).  State is
    days x |id-space|/64 words regardless of event volume, and the
    DAU readout is a popcount sum off the maintained table."""

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = (
            batch.select(
                F.floor(F.unix_timestamp("ts") / F.lit(86400))
                .cast("long")
                .alias("day"),
                F.expr("user_id div 64").alias("w"),
                F.expr("shiftleft(1L, cast(user_id % 64 AS INT))").alias(
                    "bit"
                ),
            )
            .groupBy("day", "w")
            .agg(F.bit_or("bit").alias("bits"))
        )
        if prev is None:
            return delta
        return (
            prev.unionByName(delta)
            .groupBy("day", "w")
            .agg(F.bit_or("bits").alias("bits"))
        )

    return _maintain_table(
        spark, sf_dir, "dau", merge, target_path, checkpoint, ledger=False
    )
