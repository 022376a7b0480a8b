"""Round-11 fixes (r10 VERDICT item 1 + the three r10 ADVICE lows).

1. The _RISK_ORDER regeneration pin replays recorded provenance
   (head + source-round range) instead of globbing every CORRECTNESS
   artifact, so the driver landing each round's new artifact no longer
   falsifies the pin (the r10 time-bomb).  staleness_order grows a
   ``rounds`` filter and numeric round attribution.
2. bench.py's ambient anchors are guarded: a missing table or a
   platform without getloadavg() yields null anchor fields, never an
   aborted bench.
3. bench_compare.anchor_ratios intersects the two runs' anchor-job
   key sets and degrades to raw-ratio-only on an empty intersection
   instead of raising KeyError.
"""

from __future__ import annotations

import json
import sys

import pytest

sys.path.insert(0, "scripts")


def _write_artifact(tmp_path, fname: str, names: list[str]) -> None:
    (tmp_path / fname).write_text(
        json.dumps({n: {"rows_match": True} for n in names})
    )


def test_staleness_order_rounds_filter_ignores_future_artifact(tmp_path):
    # the pin's exact failure mode in r10: a NEW driver artifact lands
    # after the order was committed; with the source rounds pinned the
    # recomputed order must not move
    import gen_risk_order as g

    # artifact rows must name registered prefixes: the order skips any
    # other (a deleted query's row)
    _write_artifact(tmp_path, "CORRECTNESS_r01.json", ["q01_a", "q02_b"])
    old_root = g.ROOT
    g.ROOT = str(tmp_path)
    try:
        pinned_before = g.staleness_order([], rounds=range(1, 2))
        # the "next driver round" re-checks q01 only
        _write_artifact(tmp_path, "CORRECTNESS_r02.json", ["q01_a"])
        pinned_after = g.staleness_order([], rounds=range(1, 2))
        unpinned = g.staleness_order([])
        assert pinned_before == pinned_after == ["q01", "q02"]
        # unpinned sees q01 as freshly checked in r2 and reorders
        assert unpinned == ["q02", "q01"]
    finally:
        g.ROOT = old_root


def test_staleness_order_numeric_round_attribution(tmp_path):
    # r10 advice item 4: lexicographic glob order breaks at 3-digit
    # rounds ("CORRECTNESS_r100" sorts before "CORRECTNESS_r99", so the
    # stale r99 check would overwrite the fresh r100 one); attribution
    # must be last-write-wins in NUMERIC round order
    import gen_risk_order as g

    _write_artifact(tmp_path, "CORRECTNESS_r99.json", ["q02_b"])
    _write_artifact(tmp_path, "CORRECTNESS_r100.json", ["q01_a", "q02_b"])
    old_root = g.ROOT
    g.ROOT = str(tmp_path)
    try:
        # both rows were last checked in r100, so numeric order within
        # the round decides; the lexicographic bug attributes q02 to
        # r99 and fronts it
        assert g.staleness_order([]) == ["q01", "q02"]
    finally:
        g.ROOT = old_root


def test_committed_provenance_matches_source_rounds():
    # the provenance recorded beside _RISK_ORDER must itself be
    # readable and name rounds whose artifacts exist in the repo
    import glob
    import os
    import re

    import __spark_entry__ as entry

    lo, hi = entry._RISK_ORDER_SOURCE_ROUNDS
    present = {
        int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for f in glob.glob("CORRECTNESS_r*.json")
    }
    assert set(range(lo, hi + 1)) <= present
    assert all(p.startswith("q") for p in entry._RISK_ORDER_HEAD)


def test_staleness_order_invariants_on_real_artifacts():
    # on the repo's real artifacts: the result is a permutation of the
    # full inventory (no drops, no dups), any head leads verbatim, and
    # the function is deterministic
    import __spark_entry__ as entry
    import gen_risk_order as g

    lo, hi = entry._RISK_ORDER_SOURCE_ROUNDS
    rounds = range(lo, hi + 1)
    order = g.staleness_order(["q342", "q01"], rounds=rounds)
    assert order[:2] == ["q342", "q01"]
    assert len(order) == len(set(order)) == len(entry._RISK_ORDER)
    assert set(order) == set(entry._RISK_ORDER)
    assert order == g.staleness_order(["q342", "q01"], rounds=rounds)


class _BoomSpark:
    """SparkSession stand-in whose every read raises."""

    @property
    def read(self):
        raise RuntimeError("table gone")


def test_bench_anchor_survives_calibrate_failure():
    # r10 advice item 2: an anchor-job failure (missing table) must
    # yield null anchors, not abort the bench before any query is timed
    import bench

    calib, load = bench._anchor(_BoomSpark(), "/nonexistent", "t")
    assert calib is None
    assert isinstance(load, list) and len(load) == 3


def test_bench_anchor_survives_loadavg_failure(monkeypatch):
    import os

    import bench

    def _no_loadavg():
        raise OSError("unsupported platform")

    monkeypatch.setattr(os, "getloadavg", _no_loadavg)
    calib, load = bench._anchor(_BoomSpark(), "/nonexistent", "t")
    assert calib is None and load is None


def test_bench_compare_anchor_ratio_intersects_job_keys():
    import bench_compare as bc

    a = {"calib_pre": {"j": 0.3, "only_a": 1.0},
         "calib_post": {"j": 0.3, "only_a": 1.0}}
    b = {"calib_pre": {"j": 0.6, "only_b": 9.0},
         "calib_post": {"j": 0.6, "only_b": 9.0}}
    # r10 advice item 3: a changed job set must compare the shared
    # jobs, not KeyError on the missing ones
    r_min, r_mean, stable = bc.anchor_ratios(a, b)
    assert r_min == pytest.approx(2.0) and r_mean == pytest.approx(2.0)
    assert stable


def test_bench_compare_anchor_ratio_empty_intersection():
    import bench_compare as bc

    a = {"calib_pre": {"x": 0.3}, "calib_post": {"x": 0.3}}
    b = {"calib_pre": {"y": 0.6}, "calib_post": {"y": 0.6}}
    r_min, r_mean, stable = bc.anchor_ratios(a, b)
    assert r_min is None and r_mean is None


def test_bench_compare_null_anchor_fields_mean_no_anchors(tmp_path):
    # the guarded bench emits "calib_pre": null when an anchor job
    # failed — the comparator must read that as anchors-absent
    import bench_compare as bc

    p = tmp_path / "b.json"
    p.write_text(json.dumps({
        "queries": {"q1_a": 1.0},
        "calib_pre": None,
        "calib_post": {"j": 0.2},
    }))
    q, anchors = bc.load_queries(str(p))
    assert q == {"q1_a": 1.0}
    assert anchors is None
