"""Pure helpers for the benchmark: percentiles, span arithmetic, seeded
op order and the file -> micro-batch -> batch-end join.  No Spark import,
so the tests exercise this module without a JVM."""

from __future__ import annotations

import bisect
import json
import os
import random
import time
from datetime import datetime, timezone

# the tail percentile needs this many samples strictly beyond it
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns ``(value, percentile, n)``: the sample with exactly
    ``TAIL_BEYOND`` larger-ranked samples after it, the percentile that
    rank is (``100 * (n - 10) / n``), and the sample count.  None when
    there are too few samples for any such percentile."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    s = sorted(values)
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def union(intervals: list[tuple[float, float]], clip: tuple[float, float] | None = None) -> float:
    """Total length covered by ``intervals`` (overlaps counted once),
    optionally clipped to the window ``clip``."""
    ivs = []
    for a, b in intervals:
        if clip is not None:
            a, b = max(a, clip[0]), min(b, clip[1])
        if b > a:
            ivs.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(ivs):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (span[1] - span[0]) - union(children, clip=span)


def op_order(names: list[str], seed: int) -> list[str]:
    """The seed's permutation of a workload's ops (same seed, same order)."""
    return random.Random(seed).sample(list(names), len(names))


def source_log_batches(log_dir: str) -> dict[str, int]:
    """Map each input file to the micro-batch that read it, from a file
    stream source's metadata log (``<checkpoint>/sources/0``).

    The log holds one file per batch (``0``, ``1``, ...) and, every
    ``compactInterval`` batches, a ``<n>.compact`` file that carries all
    earlier entries, after which the plain files it covers may be
    deleted.  Every entry names its own ``batchId``, so reading all files
    that remain gives the complete map whichever ones compaction kept."""
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the version header, e.g. "v1"
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_spans(progress: list[dict]) -> dict[int, tuple[float, float]]:
    """Epoch-second ``(start, end)`` of each micro-batch, from listener
    progress: trigger start ``timestamp`` plus ``triggerExecution``."""
    out = {}
    for p in progress:
        start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=timezone.utc).timestamp()
        out[int(p["batchId"])] = (start, start + p["durationMs"]["triggerExecution"] / 1000.0)
    return out


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """Epoch seconds at which each micro-batch ended."""
    return {b: end for b, (_, end) in batch_spans(progress).items()}


def first_within(times: list[float], a: float, b: float) -> float | None:
    """The earliest of ``times`` inside ``[a, b]``, or None.  Used to find
    the start of the write's own SQL execution inside an op's write call."""
    inside = [t for t in times if a <= t <= b]
    return min(inside) if inside else None


def parse_stat(text: str) -> tuple[int, int, int]:
    """``(ppid, own ticks, reaped children's ticks)`` from the text of a
    ``/proc/<pid>/stat`` file; ticks are user + system CPU time."""
    f = text[text.rindex(")") + 2:].split()  # the command name may hold spaces
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def process_cpu_s(pid: int) -> float | None:
    """CPU seconds used so far by the live process ``pid``, to the
    nanosecond, from its CPU-time clock; None once it has exited."""
    try:
        return time.clock_gettime_ns(((~pid) << 3) | 2) / 1e9  # clock_getcpuclockid(pid)
    except OSError:
        return None


def tree_cpu_s(root: int, exclude: frozenset[int] = frozenset(), proc: str = "/proc") -> float:
    """CPU seconds (user + system) used so far by ``root`` and the
    processes below it, leaving out the subtrees of ``exclude``.

    A process below ``root`` also counts its reaped children, so Python
    workers that have exited still count.  ``root``'s reaped children do
    not: a helper it started and waited for (the live generator) is not
    the engine's work.  Time a CPU spent stolen by the hypervisor or
    waiting behind other processes is not CPU time, so this is steadier
    than wall time on a shared host."""
    stats: dict[int, tuple[int, int, int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stats[int(name)] = parse_stat(f.read())
        except (OSError, ValueError):
            continue  # exited while listed
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in stats:
            continue
        _, own, reaped = stats[pid]
        precise = process_cpu_s(pid)
        total += (own / tick if precise is None else precise) + (reaped / tick if pid != root else 0.0)
        todo += kids.get(pid, [])
    return total


def value_at(samples: list[tuple[float, float]], t: float) -> float:
    """A cumulative counter at time ``t``, linearly interpolated between
    the ``(time, value)`` samples around it (clamped at the ends)."""
    times = [s[0] for s in samples]
    i = bisect.bisect_left(times, t)
    if i == 0:
        return samples[0][1]
    if i == len(samples):
        return samples[-1][1]
    (ta, va), (tb, vb) = samples[i - 1], samples[i]
    return va + (vb - va) * (t - ta) / (tb - ta) if tb > ta else vb


def file_latencies(due: dict[str, float], batches: dict[str, int], ends: dict[int, float]) -> dict[str, float]:
    """Seconds from each file's scheduled send time to the end of the
    batch that committed it; files not yet committed are left out."""
    return {
        f: ends[batches[f]] - t
        for f, t in due.items()
        if f in batches and batches[f] in ends
    }


def max_ingest_lag(written: list[float], committed: list[float]) -> int:
    """Largest number of files written but not yet committed, checked at
    every write (the backlog only grows at a write)."""
    committed = sorted(committed)
    lag, j = 0, 0
    for i, t in enumerate(sorted(written), 1):
        while j < len(committed) and committed[j] <= t:
            j += 1
        lag = max(lag, i - j)
    return lag
