"""Tests for the benchmark's own logic.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402


def test_tail_needs_ten_beyond():
    assert measure.tail([1.0] * 10) is None
    value, pct, n = measure.tail([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_is_the_value_with_exactly_ten_above():
    vals = [float(i) for i in range(100, 0, -1)]  # 100 .. 1, unsorted order
    value, pct, n = measure.tail(vals)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in vals) == 10


def test_union_merges_overlaps_and_clips():
    assert measure.union([(0, 2), (1, 3), (5, 6)]) == 4
    assert measure.union([(0, 2), (1, 3), (5, 6)], clip=(1.5, 5.5)) == pytest.approx(2.0)
    assert measure.union([(4, 5)], clip=(0, 1)) == 0
    assert measure.union([]) == 0


def test_self_time_subtracts_covered_part_once():
    # children overlap each other and stick out of the parent
    assert measure.self_time((0, 10), [(1, 4), (3, 5), (9, 12)]) == pytest.approx(5.0)
    assert measure.self_time((0, 10), []) == 10


def test_op_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(20)]
    a = measure.op_order(names, 7)
    assert a == measure.op_order(names, 7)
    assert sorted(a) == sorted(names)
    assert a != measure.op_order(names, 8)


def _write_log(d, name, entries):
    with open(os.path.join(d, name), "w") as f:
        f.write("v1\n")
        for path, batch in entries:
            f.write(json.dumps({"path": f"file:///drop/{path}", "timestamp": 1, "batchId": batch}) + "\n")


def test_source_log_join_survives_compaction(tmp_path):
    # batches 0-9 were compacted into 9.compact and their plain files deleted
    _write_log(tmp_path, "9.compact", [(f"part-{i:05d}.parquet", i) for i in range(10)])
    _write_log(tmp_path, "10", [("part-00010.parquet", 10), ("part-00011.parquet", 10)])
    _write_log(tmp_path, ".10.crc", [])
    batches = measure.source_log_batches(str(tmp_path))
    assert batches["part-00003.parquet"] == 3
    assert batches["part-00011.parquet"] == 10
    assert len(batches) == 12

    progress = [
        {"batchId": 3, "timestamp": "2024-01-01T00:00:01.000Z", "durationMs": {"triggerExecution": 250}},
        {"batchId": 10, "timestamp": "2024-01-01T00:00:02.500Z", "durationMs": {"triggerExecution": 500}},
    ]
    ends = measure.batch_ends(progress)
    base = 1704067200.0  # 2024-01-01T00:00:00Z
    assert ends[3] == pytest.approx(base + 1.25)
    assert measure.batch_spans(progress)[10] == pytest.approx((base + 2.5, base + 3.0))
    due = {"part-00003.parquet": base + 1.0, "part-00011.parquet": base + 2.0, "part-00099.parquet": base}
    lat = measure.file_latencies(due, batches, ends)
    assert lat == pytest.approx({"part-00003.parquet": 0.25, "part-00011.parquet": 1.0})


def test_max_ingest_lag():
    assert measure.max_ingest_lag([0, 1, 2, 3], [0.5, 3.5, 3.5, 3.5]) == 3
    assert measure.max_ingest_lag([0, 1], [0.1, 1.1]) == 1


def test_first_within_picks_the_earliest_start_in_the_window():
    starts = [1.0, 5.2, 5.1, 9.0]
    assert measure.first_within(starts, 5.0, 8.0) == 5.1
    assert measure.first_within(starts, 2.0, 4.0) is None


def test_parse_stat_handles_spaces_in_the_command_name():
    # pid (comm) state ppid ... utime(14) stime(15) cutime(16) cstime(17)
    text = "42 (python3 -c x) S 7 42 42 0 -1 4194304 1 0 0 0 30 12 5 3 20 0 1 0\n"
    assert measure.parse_stat(text) == (7, 42, 8)


def _fake_proc(root, procs):
    for pid, ppid, own, reaped in procs:
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} (p) S {ppid} 0 0 0 -1 0 0 0 0 0 {own} 0 {reaped} 0 20 0 1 0\n")


def test_tree_cpu_counts_descendants_and_their_reaped_children(tmp_path, monkeypatch):
    # pids too large to be live, so each is read from its stat file
    root, jvm, worker, gen, other = 9999901, 9999902, 9999903, 9999904, 9999905
    _fake_proc(tmp_path, [
        (root, 1, 100, 1000),   # root's reaped children (a finished helper) do not count
        (jvm, root, 200, 0),
        (worker, jvm, 50, 25),  # a reaped child of a descendant counts
        (gen, root, 400, 0),    # excluded subtree
        (other, 1, 800, 0),     # not below root
    ])
    (tmp_path / "self").mkdir()  # not a pid
    monkeypatch.setattr(measure.os, "sysconf", lambda name: 100)
    got = measure.tree_cpu_s(root, exclude=frozenset({gen}), proc=str(tmp_path))
    assert got == pytest.approx((100 + 200 + 50 + 25) / 100)


def test_process_cpu_reads_this_process_clock():
    before = measure.process_cpu_s(os.getpid())
    sum(i * i for i in range(200000))
    assert measure.process_cpu_s(os.getpid()) > before
    assert measure.process_cpu_s(9999999) is None


def test_value_at_interpolates_and_clamps():
    samples = [(0.0, 1.0), (1.0, 3.0), (3.0, 4.0)]
    assert measure.value_at(samples, 0.5) == pytest.approx(2.0)
    assert measure.value_at(samples, 2.0) == pytest.approx(3.5)
    assert measure.value_at(samples, 1.0) == pytest.approx(3.0)
    assert measure.value_at(samples, -1.0) == 1.0
    assert measure.value_at(samples, 9.0) == 4.0
