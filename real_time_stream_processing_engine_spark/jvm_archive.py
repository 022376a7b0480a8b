"""Start the driver JVM from a class-data archive (JDK 17 dynamic AppCDS).

Every launch of a driver JVM loads, parses and verifies Spark's classes
from its jars before it does any work.  A JVM started with
``-XX:ArchiveClassesAtExit=F`` writes the classes it loaded to ``F`` when
it exits; a JVM started with ``-XX:SharedArchiveFile=F`` maps them and
skips that work.  The archive is bound to the JDK build and the class
path, so it is keyed on both and kept in the per-user cache
(``${XDG_CACHE_HOME:-~/.cache}/real_time_stream_processing_engine_spark``),
one key at a time.  The first launch for a key writes it; every later
launch maps it.

The published archive path only ever holds a complete file: the JVM
dumps to a temp path of its own, and the Python process that launched
it waits for it at interpreter exit and renames the dump into place.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections.abc import Collection, Iterable

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# cds logging to a file only: by default the JVM prints cds warnings
# (a rejected archive, classes it cannot archive) on its stdout, which
# is the Python driver's stdout.  Tag `cds` carries the mapping and the
# reason an archive was refused, `cds+dynamic` the end of a dump;
# filecount=0 writes the file in place (the default rotates it away).
_LOG_FLAGS = "-Xlog:cds*=off -Xlog:cds=info,cds+dynamic=info:file={}::filecount=0"
_MAPPED = "Mapped dynamic region"
_WRITTEN = "Written dynamic archive"


def archive_plan(
    java: str,
    jars: Iterable[tuple[str, int]],
    conf_names: Iterable[str],
    published: Collection[str],
) -> tuple[str, str]:
    """The archive's file name for this JDK build and jar set, and what
    the launch does with it: ``"map"`` the published archive, or
    ``"dump"`` one at exit because none is published.  ``("", why)``
    when the archive is off.  Pure (unit-testable without a JVM).

    ``java`` identifies the JDK build the launcher runs, ``jars`` lists
    ``$SPARK_HOME/jars`` as (name, size), ``conf_names`` lists the Spark
    conf dir and ``published`` the cache dir.  JDK 17 dumps no archive
    whose class path holds a non-empty directory, and the conf dir is on
    the class path: when it holds only ``*.template`` files the launch
    puts the cache's own empty conf dir there instead (it sits beside
    the archive, so the cache location keys it).  Any other file in the
    conf dir is conf the launch must read: the archive is off and the
    launch is left as it was."""
    kept = sorted(n for n in conf_names if not n.endswith(".template"))
    if kept:
        return "", f"the Spark conf dir holds {', '.join(kept)}"
    digest = hashlib.sha256(java.encode())
    for name, size in sorted(jars):
        digest.update(f"\0{name}\0{size}".encode())
    name = f"{digest.hexdigest()[:16]}.jsa"
    return name, ("map" if name in published else "dump")


def _say(msg: str) -> None:
    print(f"class-data archive: {msg}", file=sys.stderr, flush=True)


def _java_build() -> str:
    """The java binary Spark's launcher runs, with the size and mtime of
    its libjvm (a JDK update replaces it)."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None:
        raise OSError("no java on PATH and no JAVA_HOME")
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    st = os.stat(os.path.join(jdk, "lib", "server", "libjvm.so"))
    return f"{java} {st.st_size} {st.st_mtime_ns}"


def _plan(cache: str) -> tuple[str, str]:
    home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    conf_names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    jars = [(e.name, e.stat().st_size) for e in os.scandir(os.path.join(home, "jars"))]
    os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    return archive_plan(_java_build(), jars, conf_names, os.listdir(cache))


def _why(log_text: str) -> str | None:
    """The first reason the JVM's cds log gives for refusing an archive
    or failing a dump; None when it gives none."""
    for line in log_text.splitlines():
        if "UseSharedSpaces: " in line:
            return line.split("UseSharedSpaces: ", 1)[1]
        if "][error" in line:
            return line.rsplit("] ", 1)[-1]
    return None


def _read(path: str) -> str:
    try:
        with open(path, errors="replace") as f:
            return f.read()
    except FileNotFoundError:
        return ""


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sweep(cache: str, keep: str) -> None:
    """Remove other keys' archives, and the logs and dumps of launches
    whose driver is gone (``<key>.<pid>.<rand>.{log,tmp}``)."""
    for entry in os.listdir(cache):
        parts = entry.split(".")
        if entry in (keep, "conf") or (
            len(parts) == 4 and parts[1].isdigit() and _alive(int(parts[1]))
        ):
            continue
        _remove(os.path.join(cache, entry))


def _finish(proc: subprocess.Popen, pid: int, log: str, dump: str | None, archive: str) -> None:
    """At interpreter exit: end the driver JVM and wait for it, then
    publish the archive it dumped (rename, so the archive path never
    holds a partial file)."""
    if os.getpid() != pid:  # a forked child exiting through atexit
        return
    if proc.poll() is None:
        proc.stdin.close()  # the gateway JVM exits at the end of its input
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if dump is not None:
        text = _read(log)
        if proc.returncode >= 0 and _WRITTEN in text:
            try:
                os.replace(dump, archive)
            except OSError as e:
                _say(f"not published ({e})")
        else:
            _say(f"none written ({_why(text) or f'JVM exit code {proc.returncode}'})")
            _remove(dump)
    _remove(log)


@contextlib.contextmanager
def archived_launch(conf: dict[str, str]):
    """Wrap the call that launches the driver JVM.

    Adds the archive flags to ``conf``'s driver Java options and points
    ``SPARK_CONF_DIR`` at the cache's empty conf dir for the launch.
    After it, checks that the JVM mapped the archive it was given; at
    interpreter exit, waits for the JVM and publishes what it dumped.
    Says on stderr when the archive is off, missing or refused."""
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "real_time_stream_processing_engine_spark",
    )
    if not re.fullmatch(r"[\w./+-]+", cache):
        name, choice = "", f"cache path {cache!r} cannot be passed in JVM options"
    else:
        try:
            name, choice = _plan(cache)
            if name:
                _sweep(cache, keep=name)
                fd, log = tempfile.mkstemp(
                    dir=cache, prefix=f"{name[:-4]}.{os.getpid()}.", suffix=".log"
                )
                os.close(fd)
        except OSError as e:
            name, choice = "", str(e)
    if not name:
        _say(f"off: {choice}")
        yield
        return
    archive = os.path.join(cache, name)
    dump = None
    if choice == "map":
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        dump = log[: -len(".log")] + ".tmp"
        flag = f"-XX:ArchiveClassesAtExit={dump}"
        _say(f"none for this JDK and jar set; this JVM writes {archive} at exit")
    conf[_JAVA_OPTIONS] = f"{conf.get(_JAVA_OPTIONS, '')} {flag} {_LOG_FLAGS.format(log)}".strip()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "conf")
    try:
        yield
    except BaseException:
        _remove(log)
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if dump is None:
        text = _read(log)
        why = _why(text)
        if why is not None or _MAPPED not in text:
            why = why or f"no '{_MAPPED}' in the JVM's cds log"
            _say(f"{archive} not mapped ({why}); removed, the next launch writes a fresh one")
            _remove(archive)
    atexit.register(_finish, SparkContext._gateway.proc, os.getpid(), log, dump, archive)
