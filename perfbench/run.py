"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run (spans and counts taken around calls into the package's public
functions, plus Spark's event log).  Each run also writes its per-op
detail and ambient anchors to ``perfbench/_work/<workload>_trace<0|1>.json``.
See ``perfbench/README.md`` for the workloads and what each metric is for.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_PROCESS = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "real_time_stream_processing_engine_spark"
WORKLOADS = ("pipelines", "live")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def stray_spark_jvms() -> list[int]:
    """PIDs of Spark driver JVMs already running on this host."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(int(pid))
    return found


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``pids``, in MiB."""
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024.0
    return total


def anchor(spark, data_dir: str) -> dict:
    """Ambient anchors taken before and after the timed section, so drift
    on a shared host shows in the artifact: bench.py's pinned calibration
    jobs, the load average, and the CPU time the hypervisor has stolen
    from this machine since boot (``/proc/stat``)."""
    import bench

    with open("/proc/stat") as f:
        steal_s = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"calibrate": bench.calibrate(spark, data_dir), "loadavg": list(os.getloadavg()),
            "steal_s": steal_s}


def fresh_dir(*parts: str) -> str:
    d = os.path.join(WORK, *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def prepare_env() -> None:
    """Keep every file Spark and the engine write inside the checkout, and
    put the repository root on the Python workers' path (pandas UDFs
    import the package there, whatever the working directory)."""
    tmp = fresh_dir("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SCRATCH"] = fresh_dir("scratch")
    os.environ["SPARK_LOCAL_DIRS"] = fresh_dir("local")  # wins over spark.local.dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: the JVM's perf-data file goes to /tmp whatever
    # java.io.tmpdir says
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_MASTER_URL", None)
    fresh_dir("eventlog")


def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": fresh_dir("warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


class Session:
    """The benchmark's Spark session: built, then warmed by the workload's
    ``warm(spark)``; ``close`` always stops the JVM it launched."""

    def __init__(self, workload: str, trace: bool, excluded_s: float, warm):
        from real_time_stream_processing_engine_spark.session import get_spark

        self.cores = len(os.sched_getaffinity(0))
        t0 = time.monotonic()
        self.spark = get_spark(
            app_name=f"perfbench-{workload}", master=f"local[{self.cores}]",
            extra_conf=spark_conf(trace),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.monotonic()
        try:
            warm(self.spark)
        except BaseException:
            self.close()
            raise
        t2 = time.monotonic()
        self.get_spark_s = t1 - t0
        self.warmup_s = t2 - t1
        # process start -> warmed session, less the benchmark's own input
        # generation (done once per checkout, then read from disk)
        self.setup_s = t2 - T_PROCESS - excluded_s

    def pids(self) -> list[int]:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return [os.getpid()] + ([proc.pid] if proc is not None else [])

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark of the engine")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still unwinds, so the JVM it launched is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec(PACKAGE) is None:
        log(f"package {PACKAGE} not found under {ROOT}; run from a repository checkout")
        return 2
    stray = stray_spark_jvms()
    if stray:
        log(f"refusing to start: Spark JVM(s) already running, pids {stray}")
        return 3

    import datagen
    import workloads

    t = time.monotonic()
    data_dir = datagen.ensure(workloads.SF[a.workload], os.path.join(WORK, "data"))
    t_data = time.monotonic() - t
    log(f"data {data_dir} ready in {t_data:.3f}s (excluded from setup_s)")
    prepare_env()

    session = Session(a.workload, bool(a.trace), t_data,
                      lambda spark: workloads.warm(a.workload, spark, data_dir))
    try:
        anchor_pre = anchor(session.spark, data_dir)
        result = workloads.run(a.workload, session, data_dir, a.seed, a.seconds, bool(a.trace))
        anchor_post = anchor(session.spark, data_dir)
        rss = peak_rss_mb(session.pids())
    finally:
        session.close()
    log(f"anchors pre {anchor_pre} post {anchor_post}")

    artifact = {"seed": a.seed, "anchors": {"pre": anchor_pre, "post": anchor_post},
                "setup": {"get_spark_s": session.get_spark_s, "warmup_s": session.warmup_s},
                "detail": result.detail}
    if a.trace:
        layers = workloads.layer_metrics(a.workload, session, result, os.path.join(WORK, "eventlog"), rss)
        artifact.update(layers=layers, spans=result.tracer.spans)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = workloads.end_to_end(session, result)
    with open(os.path.join(WORK, f"{a.workload}_trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    out = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
