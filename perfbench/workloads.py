"""The two workloads, the end-to-end metrics of an untraced run and the
per-layer metrics of a traced one.  Layers are named after the package's
modules: session, sources, queries, operators, streaming, sinks."""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import evlog
import measure
import ops
from run import WORK, fresh_dir, log

SF = {"pipelines": ops.SF, "live": 0.1}
# live: files per second, rows per file, warm-up files before timing
LIVE_RATE, LIVE_ROWS, LIVE_WARM = 2, 1000, 4
LIVE_FILTER = ("event_type", "purchase")
LIVE_COLUMNS = ("event_id", "ts", "user_id", "value")
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

_EPOCH0 = time.time() - time.perf_counter()


def cpu_now(exclude: frozenset[int] = frozenset()) -> float:
    """CPU seconds used so far by this process's engine: the Python
    driver, the driver JVM and its Python workers."""
    return measure.tree_cpu_s(os.getpid(), exclude)


def now() -> float:
    """Epoch seconds from the monotonic clock, comparable with Spark's
    event-log times."""
    return _EPOCH0 + time.perf_counter()


class CpuSampler(threading.Thread):
    """Samples the engine's cumulative CPU time every ``PERIOD`` s, so
    CPU can be charged to intervals known only afterwards (micro-batches).
    ``exclude`` leaves a helper process's own CPU out."""

    PERIOD = 0.05

    def __init__(self, exclude: frozenset[int]):
        super().__init__(daemon=True)
        self.exclude = exclude
        self.samples: list[tuple[float, float]] = []
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.samples.append((now(), cpu_now(self.exclude)))
            self._done.wait(self.PERIOD)

    def stop(self) -> None:
        if self.is_alive():
            self._done.set()
            self.join()
            self.samples.append((now(), cpu_now(self.exclude)))


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    latencies: list[float] = field(default_factory=list)
    walls: list[float] = field(default_factory=list)
    op_cpus: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)
    passes: int = 1
    layer_failed: dict[str, int] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    tracer: "Tracer | None" = None

    def fail(self, layer: str) -> None:
        self.layer_failed[layer] = self.layer_failed.get(layer, 0) + 1


class Tracer:
    """Spans around calls into the package's public functions, kept in
    memory until the run ends.  ``install`` wraps the functions where
    callers look them up; ``remove`` puts the originals back."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, bool]] = []
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, kind: str, fn):
        def wrapper(*args, **kwargs):
            t0 = now()
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                self.spans.append((kind, t0, now(), ok))

        return wrapper

    def install(self) -> None:
        from real_time_stream_processing_engine_spark import queries
        from real_time_stream_processing_engine_spark.sinks import writers
        from real_time_stream_processing_engine_spark.sources import readers
        from real_time_stream_processing_engine_spark.streaming import runner

        for mod, attr, kind in (
            (readers, "load_table", "sources.load_table"),
            (queries, "load_table", "sources.load_table"),
            (runner, "stream_events", "sources.stream_events"),
            (writers, "stream_to_files", "sinks.stream_to_files"),
        ):
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(kind, orig))

    def remove(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def within(self, kind: str, a: float, b: float) -> list[tuple[float, float]]:
        """Spans of ``kind`` that started inside ``[a, b]``."""
        return [(s, e) for k, s, e, _ in self.spans if k == kind and a <= s <= b]


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


# untimed passes over the `pipelines` ops during set-up; the engine's CPU
# per pass falls (JIT) over about the first five, and a fifth warm pass
# would push a run past the time the full protocol allows
WARM_PASSES = 4
# micro-batches the live pipeline runs during set-up
LIVE_WARM_BATCHES = 16


def live_pipeline(df):
    """``core.column_filter -> core.select_columns`` as the live workload
    applies it, to the stream and to the batch it is checked against."""
    from real_time_stream_processing_engine_spark.operators import core

    return core.pipe(core.column_filter(*LIVE_FILTER), core.select_columns(*LIVE_COLUMNS))(df)


def warm(workload: str, spark, data_dir: str) -> None:
    """Set-up step, untimed and counted in ``setup_s``.  Spark compiles and
    caches each query's generated code on its first run in a session, and
    the JIT keeps speeding later runs up for several more; a long-lived
    session pays that once.  A closed-loop workload runs every op
    ``WARM_PASSES`` times.  ``live`` drains ``LIVE_WARM_BATCHES`` one-file
    micro-batches through its own pipeline into a file sink."""
    if workload == "live":
        import livegen
        import pyarrow.parquet as pq
        from real_time_stream_processing_engine_spark.sinks import writers
        from real_time_stream_processing_engine_spark.streaming import runner

        base = fresh_dir("live_warm")
        drop = os.path.join(base, "in", "events.parquet")
        os.makedirs(drop)
        events = pq.read_table(os.path.join(data_dir, "events.parquet"))
        for i in range(LIVE_WARM_BATCHES):
            livegen.write_slice(events, drop, i, LIVE_ROWS)
        src = runner.stream_events(spark, os.path.dirname(drop), max_files_per_trigger=1)
        q = writers.stream_to_files(live_pipeline(src), os.path.join(base, "out"), os.path.join(base, "ckpt"))
        q.awaitTermination()
        return
    want = load_expected()[f"sf{ops.SF}"]
    for i in range(WARM_PASSES):
        for name in ops.OPS:
            one_op(spark, name, data_dir, want.get(name), Result(), f"warm{i}_{name}")


def run(workload: str, session, data_dir: str, seed: int, seconds: int, trace: bool) -> Result:
    if workload == "live":
        return live(session, data_dir, seed, seconds, trace)
    return closed_loop(session, data_dir, seed, seconds, trace)


# --------------------------------------------------------------- closed loop


def one_op(spark, name: str, data_dir: str, want: dict | None, res: Result, tag: str) -> dict:
    """Build one op, write it in full (the write plans it), then check its
    output.  The record's times: t0 build start, t1 built, t3 written,
    t4 checked."""
    from real_time_stream_processing_engine_spark.queries import QUERIES

    rec = {"op": name, "c0": cpu_now(), "t0": now()}
    phase = "queries"
    try:
        df = QUERIES[name](spark, data_dir)
        rec["t1"] = now()
        phase = "operators"
        got = ops.materialize(df, tag)
        rec["t3"] = now()
        rec["ok"] = ops.matches(name, got, want)
        if not rec["ok"]:
            log(f"{name}: output {got} != expected {want}")
    except Exception as e:  # a failed op is counted, and the loop goes on
        log(f"{name}: FAILED in {phase}: {type(e).__name__}: {str(e)[:300]}")
        rec["ok"] = False
    rec["t4"] = now()
    rec["c4"] = cpu_now()
    if not rec["ok"]:
        res.fail(phase)
    res.attempted += 1
    res.failed += 0 if rec["ok"] else 1
    rec["latency"] = rec["t4"] - rec["t0"]
    return rec


def closed_loop(session, data_dir: str, seed: int, seconds: int, trace: bool) -> Result:
    """One client, next op when the last completes.  A pass runs every op
    of the workload once in the seed's order; a run makes a fixed number
    of timed passes for its ``seconds``.  A traced run brackets its traced
    passes with one untraced pass on each side, so the tracing overhead
    (traced minus untraced pass wall) is not confounded with warm-up
    that continues through the run."""
    spark = session.spark
    names = measure.op_order(ops.OPS, seed)
    want = load_expected()[f"sf{ops.SF}"]
    res = Result(passes=max(1, int(seconds // ops.PASS_S)))
    res.detail["order"] = names
    tracer = Tracer() if trace else None
    schedule = [False, *[True] * res.passes, False] if trace else [False] * res.passes
    recs, untraced_walls, n = [], [], 0
    for traced in schedule:
        if traced:
            tracer.install()
        try:
            t, c = now(), cpu_now()
            pass_recs = []
            for name in names:
                pass_recs.append(one_op(spark, name, data_dir, want.get(name), res, f"pb{n}"))
                n += 1
            wall, cpu = now() - t, cpu_now() - c
        finally:
            if traced:
                tracer.remove()
        if traced or not trace:
            recs += pass_recs
            res.walls.append(wall)
            res.cpus.append(cpu)
        else:
            untraced_walls.append(wall)
    res.tracer = tracer
    res.latencies = [r["latency"] for r in recs]
    res.op_cpus = [r["c4"] - r["c0"] for r in recs]
    res.detail.update(ops=recs, window=(recs[0]["t0"], recs[-1]["t4"]))
    if trace:
        res.detail["untraced_pass_s"] = untraced_walls
        res.detail["count_vs_noop"] = count_vs_noop(spark, names, data_dir, recs)
    return res


def count_vs_noop(spark, names: list[str], data_dir: str, recs: list[dict]) -> dict:
    """Build + ``count()`` per op next to its traced build + plan + noop
    time, so bench.py's count-based series reads beside these numbers."""
    from real_time_stream_processing_engine_spark.queries import QUERIES

    out = {}
    for name in names:
        t = time.perf_counter()
        QUERIES[name](spark, data_dir).count()
        noop = statistics.median([r["latency"] for r in recs if r["op"] == name and r["ok"]] or [float("nan")])
        out[name] = {"count_s": time.perf_counter() - t, "noop_s": noop}
        log(f"count vs noop {name}: {out[name]['count_s']:.3f}s vs {noop:.3f}s")
    return out


# ---------------------------------------------------------------------- live


def live(session, data_dir: str, seed: int, seconds: int, trace: bool) -> Result:
    """Open loop: a separate process drops one parquet slice of ``events``
    every 1/LIVE_RATE s into a flat directory that
    ``stream_events -> column_filter -> select_columns -> stream_to_files``
    polls.  An op is one file; its latency runs from the file's scheduled
    time to the end of the micro-batch that committed it.  The run's wall
    is the time the engine spent in the micro-batches that committed the
    timed files (the union of their intervals).  The engine's CPU is
    sampled while the generator runs and charged to those micro-batches."""
    import livegen
    import pyarrow.parquet as pq
    from real_time_stream_processing_engine_spark.sinks import writers
    from real_time_stream_processing_engine_spark.streaming import runner

    spark = session.spark
    res = Result()
    base = fresh_dir("live")
    src_dir = os.path.join(base, "in")
    drop = os.path.join(src_dir, "events.parquet")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    os.makedirs(drop)
    src = os.path.join(data_dir, "events.parquet")
    n_files = LIVE_RATE * seconds
    total = LIVE_WARM + n_files + 1
    n_rows = pq.ParquetFile(src).metadata.num_rows
    if total * LIVE_ROWS > n_rows:
        raise ValueError(f"--seconds {seconds} needs {total * LIVE_ROWS} events; the table has {n_rows}")
    start_row = random.Random(seed).randrange(0, n_rows - total * LIVE_ROWS + 1)
    res.detail["start_row"] = start_row
    # the source sniffs the timestamp unit from a file, so one is there first
    livegen.write_slice(pq.read_table(src).slice(start_row, LIVE_ROWS), drop, 0, LIVE_ROWS)

    if trace:
        res.tracer = Tracer()
        res.tracer.install()
    gen = sampler = None
    try:
        t_start = now()
        q = writers.stream_to_files(
            live_pipeline(runner.stream_events(spark, src_dir)), out, ckpt, available_now=False)
        _wait(lambda: any(p["numInputRows"] > 0 for p in q.recentProgress), 60, "first live batch")
        res.detail["start_s"] = now() - t_start
        gen_log = os.path.join(base, "gen.jsonl")
        t0 = now() + 1.0
        gen = subprocess.Popen([
            sys.executable, livegen.__file__, "--src", src, "--out", drop, "--log", gen_log,
            "--start-row", str(start_row), "--rows", str(LIVE_ROWS), "--first", "1",
            "--files", str(LIVE_WARM + n_files), "--rate", str(LIVE_RATE), "--t0", str(t0),
        ])
        sampler = CpuSampler(frozenset({gen.pid}))
        sampler.start()
        gen.wait(timeout=seconds + 60)
        with open(gen_log) as f:
            sent = [json.loads(line) for line in f]
        log_dir = os.path.join(ckpt, "sources", "0")

        def committed() -> bool:
            batches = measure.source_log_batches(log_dir)
            ends = measure.batch_ends(q.recentProgress)
            return all(s["file"] in batches and batches[s["file"]] in ends for s in sent)

        _wait(committed, 60, "live files to commit")
        sampler.stop()
        progress = list(q.recentProgress)
        t_stop = now()
        q.stop()
        res.detail["stop_s"] = now() - t_stop
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    except Exception as e:
        log(f"live FAILED: {type(e).__name__}: {str(e)[:300]}")
        res.fail("streaming")
        res.attempted, res.failed = n_files, n_files
        return res
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if sampler is not None:
            sampler.stop()
        if res.tracer is not None:
            res.tracer.remove()

    batches = measure.source_log_batches(log_dir)
    spans = measure.batch_spans(progress)
    ends = {b: end for b, (_, end) in spans.items()}
    timed = sent[LIVE_WARM:]
    lat = measure.file_latencies({s["file"]: s["due"] for s in timed}, batches, ends)
    res.attempted = len(timed)
    res.latencies = [lat[s["file"]] for s in timed if s["file"] in lat]
    res.failed = res.attempted - len(res.latencies)
    timed_batches = {batches[s["file"]] for s in timed}
    res.walls = [measure.union([spans[b] for b in timed_batches])]
    cpu = sampler.samples

    def cpu_in(a: float, b: float) -> float:
        return measure.value_at(cpu, b) - measure.value_at(cpu, a)

    # CPU is charged to the micro-batches; the engine's polling of the
    # drop zone between them grows as batches get faster, so it is left out
    res.op_cpus = [cpu_in(*spans[batches[s["file"]]]) for s in timed if s["file"] in lat]
    res.cpus = [sum(cpu_in(*spans[b]) for b in timed_batches)]
    late = [s["landed"] - s["due"] for s in sent]
    res.detail.update(
        sent=sent, latencies=res.latencies, op_cpus=res.op_cpus, cpu_samples=cpu, window=(t_start, now()),
        batches=[{"batchId": p["batchId"], "durationMs": dict(p["durationMs"])} for p in progress],
        generator_late_s={"p50": statistics.median(late), "max": max(late)},
        ingest_lag_files=measure.max_ingest_lag(
            [s["landed"] for s in sent], [ends[batches[s["file"]]] for s in sent]),
    )
    log(f"generator lateness p50 {statistics.median(late):.4f}s max {max(late):.4f}s")

    # the sink's final contents equal the same pipeline run in batch over
    # every file the generator dropped
    batch = live_pipeline(spark.read.parquet(drop))
    want = ops.materialize(batch, "live_batch")
    got = ops.materialize(spark.read.parquet(out), "live_sink")
    res.detail["sink_check"] = {"sink": got, "batch": want}
    if got != want:
        log(f"live sink {got} != batch {want}")
        res.fail("sinks")
        res.failed = res.attempted
    return res


def _wait(cond, timeout: float, what: str) -> None:
    end = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


# ------------------------------------------------------------------- metrics


def _median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def _tail(values: list[float], what: str) -> float | None:
    tl = measure.tail(values)
    if tl is None:
        return None
    log(f"{what} is p{tl[1]:.1f} of {tl[2]} ops")
    return tl[0]


def wall_clock(res: Result) -> dict[str, float | None]:
    """Wall-clock figures of the timed section: the median pass (closed
    loop) or the union of the timed micro-batches (live), and the median
    and tail op latency.  On a shared host they move with the other
    tenants' load, so they are reported but not bounded."""
    return {"wall_s": _median(res.walls), "op_p50_s": _median(res.latencies),
            "op_tail_s": _tail(res.latencies, "op_tail_s")}


def end_to_end(session, res: Result) -> dict:
    """The metrics a user of the engine sees, measured with tracing off:
    set-up time, and the CPU time the engine spends on the timed section
    and on each op.  CPU time leaves out time stolen by the hypervisor or
    spent waiting behind other processes, so it holds steady on a shared
    host where wall time does not.  A metric with no samples (every op
    failed) is null."""
    log(f"wall clock {wall_clock(res)}")
    log(f"failed_ratio {res.failed}/{res.attempted}")
    m = {
        "setup_s": session.setup_s,
        "cpu_s": _median(res.cpus),
        "op_cpu_s": statistics.geometric_mean(res.op_cpus) if res.op_cpus else None,
    }
    return {k: {"value": v, "unit": "s"} for k, v in m.items()}


# Every per-layer metric a traced run prints, with its unit.  Metrics are
# per timed pass (closed loop) or per run (live), except the `wallclock`
# figures, which are per run on both; a layer that does not run on a
# workload reports 0.
PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "session.failed": "count",
    "sources.load_table_s": "s", "sources.load_table_calls": "count",
    "sources.input_rows": "count", "sources.input_bytes": "bytes",
    "sources.ingest_lag_files": "count", "sources.generator_late_s": "s", "sources.failed": "count",
    "queries.build_s": "s", "queries.eager_jobs": "count", "queries.eager_job_s": "s",
    "queries.plan_s": "s", "queries.failed": "count",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.driver_gap_s": "s", "operators.task_run_s": "s",
    "operators.task_cpu_s": "s", "operators.gc_s": "s", "operators.cpu_util": "ratio",
    "operators.shuffle_read_bytes": "bytes", "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.python_rows": "count",
    "operators.python_bytes": "bytes", "operators.failed": "count",
    "streaming.batches": "count", "streaming.start_stop_s": "s", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.input_rows": "count", "streaming.failed": "count",
    "sinks.write_s": "s", "sinks.files_written": "count", "sinks.bytes_written": "bytes",
    "sinks.failed": "count",
    "trace.overhead_s": "s", "trace.residual_s": "s",
    "wallclock.wall_s": "s", "wallclock.op_p50_s": "s", "wallclock.op_tail_s": "s",
}

_PHASES = {
    "add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset", "trigger_ms": "triggerExecution",
}


def _streaming(progress: list[dict], out: dict) -> None:
    for k, key in _PHASES.items():
        out[k] = sum(p["durationMs"].get(key, 0) for p in progress)
    out["batches"] = len(progress)
    out["input_rows"] = sum(s.get("numInputRows", 0) for p in progress for s in p.get("sources", []))


def layer_metrics(workload: str, session, res: Result, log_dir: str, rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of a traced run, per pass of the workload."""
    jobs, ev_progress, sql_starts = evlog.read(log_dir)
    tr = res.tracer
    t_lo, t_hi = res.detail.get("window", (0.0, 0.0))
    L: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    win_jobs = [j for j in jobs if t_lo <= j.start <= t_hi]
    for j in win_jobs:
        L["sources.input_rows"] += j.totals.get("input_rows", 0)
        L["sources.input_bytes"] += j.totals.get("input_bytes", 0)
    busy = 0.0  # wall time the task CPU is divided over for cpu_util

    def batch_end(p: dict) -> float:
        return measure.batch_ends([p])[int(p["batchId"])]

    def add_job_totals(js: list) -> None:
        L["operators.jobs"] += len(js)
        for j in js:
            for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "python_rows", "python_bytes"):
                L[f"operators.{k}"] += j.totals.get(k, 0)

    progress = [p for p in ev_progress if t_lo <= batch_end(p) <= t_hi]
    st: dict[str, float] = {}
    _streaming(progress, st)

    def op_jobs(a: float, b: float) -> list:
        return [j for j in win_jobs if a <= j.start <= b]

    if workload != "live":
        for r in res.detail["ops"]:
            if "t3" not in r:  # failed before its write finished
                continue
            build, write = (r["t0"], r["t1"]), (r["t1"], r["t3"])
            loads = tr.within("sources.load_table", *build)
            eager = [(j.start, j.end) for j in op_jobs(*build)]
            L["sources.load_table_s"] += sum(e - s for s, e in loads)
            L["sources.load_table_calls"] += len(loads)
            L["queries.build_s"] += measure.self_time(build, loads + eager)
            L["queries.eager_jobs"] += len(eager)
            L["queries.eager_job_s"] += measure.union(eager, clip=build)
            # the write plans the query, and Spark posts the write's SQL
            # execution start once its physical plan is built
            planned = measure.first_within(sql_starts, *write) or r["t1"]
            ex = (planned, r["t3"])
            L["queries.plan_s"] += planned - r["t1"]
            covered = measure.union([(j.start, j.end) for j in op_jobs(*ex)], clip=ex)
            L["operators.exec_s"] += ex[1] - ex[0]
            L["operators.driver_gap_s"] += (ex[1] - ex[0]) - covered
            add_job_totals(op_jobs(r["t0"], r["t3"]))
            busy += r["t3"] - r["t0"]
            # op wall that build, plan and exec leave out: reading the
            # observed checksum and comparing it
            L["trace.residual_s"] += r["t4"] - r["t3"]
        L["trace.overhead_s"] = statistics.median(res.walls) - statistics.median(res.detail["untraced_pass_s"])
        for k in list(L):
            if k != "trace.overhead_s":
                L[k] /= res.passes
        for k in st:
            st[k] /= res.passes
    else:
        out = os.path.join(WORK, "live", "out")
        parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
        L["sinks.files_written"] = len(parts)
        L["sinks.bytes_written"] = sum(os.path.getsize(os.path.join(out, f)) for f in parts)
        L["sinks.write_s"] = st["add_batch_ms"] / 1000.0
        L["sources.ingest_lag_files"] = res.detail["ingest_lag_files"]
        L["sources.generator_late_s"] = res.detail["generator_late_s"]["max"]
        L["streaming.start_stop_s"] = res.detail["start_s"] + res.detail["stop_s"]
        L["operators.exec_s"] = busy = measure.union([(j.start, j.end) for j in win_jobs])
        add_job_totals(win_jobs)
    if busy > 0:
        L["operators.cpu_util"] = L["operators.task_cpu_s"] * res.passes / (busy * session.cores)
    for k, v in wall_clock(res).items():
        L[f"wallclock.{k}"] = v if v is not None else 0.0
    L["session.get_spark_s"] = session.get_spark_s
    L["session.warmup_s"] = session.warmup_s
    L["session.peak_rss_mb"] = rss_mb
    for k, v in st.items():
        L[f"streaming.{k}"] = v
    spans = tr.spans if tr is not None else []
    for layer in ("session", "sources", "queries", "operators", "streaming", "sinks"):
        L[f"{layer}.failed"] = res.layer_failed.get(layer, 0) + sum(
            1 for kind, _, _, ok in spans if kind.startswith(layer + ".") and not ok)
    if set(L) != set(PER_LAYER):
        raise RuntimeError(f"per-layer metrics out of step with PER_LAYER: {set(L) ^ set(PER_LAYER)}")
    return {k: (L[k], unit) for k, unit in PER_LAYER.items()}
