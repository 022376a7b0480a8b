"""The driver JVM's class-data archive (``jvm_archive.py``).

The key and the flag choice are one pure function; the lifecycle runs
short-lived drivers in subprocesses, each with its own cache dir
(``XDG_CACHE_HOME``): the first launch writes and publishes the archive,
later launches map it, a killed driver publishes nothing, a refused
archive is reported and replaced, and real Spark conf turns it off.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

from real_time_stream_processing_engine_spark.jvm_archive import archive_plan

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JAVA = "/jdk/bin/java 24113864 1700000000"
JARS = [("spark-core_2.13-4.1.2.jar", 16_000_000), ("scala-library-2.13.16.jar", 6_000_000)]
TEMPLATES = ["spark-defaults.conf.template", "log4j2.properties.template"]


def test_archive_plan_key_and_choice():
    name, choice = archive_plan(JAVA, JARS, TEMPLATES, ["conf"])
    assert choice == "dump" and name.endswith(".jsa")
    # the listing order does not matter; a published archive is mapped
    assert archive_plan(JAVA, JARS[::-1], TEMPLATES, ["conf", name]) == (name, "map")
    changed = {
        "jar added": (JAVA, JARS + [("extra.jar", 10)]),
        "jar resized": (JAVA, [(JARS[0][0], JARS[0][1] + 1), JARS[1]]),
        "JDK changed": ("/jdk/bin/java 24113864 1700000001", JARS),
    }
    for why, (java, jars) in changed.items():
        other, choice = archive_plan(java, jars, TEMPLATES, ["conf", name])
        assert other != name and choice == "dump", why
    assert archive_plan(JAVA, JARS, TEMPLATES + ["spark-defaults.conf"], [name]) == (
        "",
        "the Spark conf dir holds spark-defaults.conf",
    )


# One driver: launch, run one action, report the JVM's pid, its Java
# options and the .jsa files it has mapped; with "hold", stay alive.
DRIVER = r"""
import json, sys, time
from pyspark import SparkContext
from real_time_stream_processing_engine_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
assert spark.range(3).count() == 3
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    jsa = sorted({l.split()[-1] for l in f.read().splitlines() if l.endswith(".jsa")})
opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")
print(json.dumps({"jvm": pid, "opts": opts, "jsa": jsa}), flush=True)
if sys.argv[1:] == ["hold"]:
    time.sleep(600)
"""


def _env(tmp_path, conf_files):
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    for name, text in conf_files.items():
        (conf / name).write_text(text)
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "xdg"), SPARK_CONF_DIR=str(conf))
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    return env, tmp_path / "xdg" / "real_time_stream_processing_engine_spark"


def _drive(env) -> tuple[dict, str]:
    run = subprocess.run(
        [sys.executable, "-c", DRIVER], env=env, capture_output=True, text=True, timeout=300
    )
    assert run.returncode == 0, run.stderr[-3000:]
    return json.loads(run.stdout.splitlines()[-1]), run.stderr


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_archive_lifecycle(tmp_path):
    env, cache = _env(tmp_path, {"spark-defaults.conf.template": "# template\n"})
    try:
        # a dumping driver SIGKILLed: its JVM still dumps at the end of
        # its input, to a temp path nobody publishes
        held = subprocess.Popen(
            [sys.executable, "-c", DRIVER, "hold"], env=env,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        jvm = json.loads(held.stdout.readline())["jvm"]
        held.send_signal(signal.SIGKILL)
        held.wait(timeout=60)
        held.stdout.close()
        deadline = time.monotonic() + 120
        while _running(jvm) and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not _running(jvm)
        assert not [p for p in os.listdir(cache) if p.endswith(".jsa")]

        # the next launch still succeeds, dumps, and publishes when its
        # driver exits, after its JVM has exited
        out, err = _drive(env)
        assert "-XX:ArchiveClassesAtExit=" in out["opts"]
        assert "this JVM writes" in err
        assert not _running(out["jvm"])
        published = [p for p in os.listdir(cache) if p.endswith(".jsa")]
        assert len(published) == 1
        archive = str(cache / published[0])
        # the next launch swept the killed driver's log and dump
        assert sorted(os.listdir(cache)) == sorted(["conf", published[0]])

        # the second launch maps it, silently
        out, err = _drive(env)
        assert f"-XX:SharedArchiveFile={archive}" in out["opts"]
        assert archive in out["jsa"]
        assert "class-data archive" not in err

        # a refused archive (zeroed header): the launch starts, says why
        # on stderr, and removes it so the next launch writes a fresh one
        os.remove(archive)
        with open(archive, "wb") as f:
            f.write(bytes(4096))
        out, err = _drive(env)
        assert archive not in out["jsa"]
        assert "not mapped (The shared archive file has a bad magic number.)" in err
        assert not os.path.exists(archive)
    finally:
        shutil.rmtree(tmp_path / "xdg", ignore_errors=True)


def test_real_conf_dir_leaves_launch_unchanged(tmp_path):
    env, cache = _env(tmp_path, {"spark-defaults.conf": "spark.executor.cores 1\n"})
    out, err = _drive(env)
    assert "SharedArchiveFile" not in out["opts"]
    assert "ArchiveClassesAtExit" not in out["opts"]
    assert "-Xlog:cds" not in out["opts"]
    assert "class-data archive: off: the Spark conf dir holds spark-defaults.conf" in err
    assert not [p for p in os.listdir(cache) if p.endswith(".jsa")]
