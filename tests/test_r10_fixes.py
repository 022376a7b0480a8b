"""Round-10 advice fix: when a matched row is corrupt on BOTH sides
(NULL update-version component AND partially-NULL target version), the
versioned upsert used to raise only the update-side error — the
operator would fix the feed, re-run, and only then hit the distinct
target-side error.  One combined message now names both defects so a
single repair pass covers them.  The both-sides test fails on the
prior code (its message had no TARGET mention)."""

from __future__ import annotations

import pytest


def _vapply(target, batch):
    from real_time_stream_processing_engine_spark.operators.cdc import (
        apply_upsert_versioned,
    )

    return apply_upsert_versioned(
        target,
        batch,
        key_cols=["k"],
        set_cols={"v": "nv"},
        version_cols={"ver_a": "va", "ver_b": "vb"},
    )


def test_versioned_both_sides_corrupt_names_both(spark):
    # target: partially-NULL version; update: NULL version component —
    # the combined branch must fire and name BOTH repairs
    target = spark.createDataFrame(
        [(1, "a", 5, None)], "k long, v string, ver_a long, ver_b long"
    )
    bad = _vapply(
        target,
        spark.createDataFrame(
            [(1, "a2", None, 0)], "k long, nv string, va long, vb long"
        ),
    )
    with pytest.raises(
        Exception, match="BOTH sides.*NULL version component.*PARTIALLY-NULL"
    ):
        bad.collect()


def test_versioned_update_only_corrupt_keeps_single_sided_message(spark):
    # healthy target, NULL update component: the original update-side
    # message (no BOTH) still fires — the combined branch is gated on
    # target corruption too
    target = spark.createDataFrame(
        [(1, "a", 5, 5)], "k long, v string, ver_a long, ver_b long"
    )
    bad = _vapply(
        target,
        spark.createDataFrame(
            [(1, "a2", None, 0)], "k long, nv string, va long, vb long"
        ),
    )
    with pytest.raises(Exception, match="update row carries a NULL") as ei:
        bad.collect()
    assert "BOTH sides" not in str(ei.value)


def test_versioned_target_only_corrupt_keeps_single_sided_message(spark):
    # partially-NULL target, healthy update: the original target-side
    # message (no BOTH) still fires
    target = spark.createDataFrame(
        [(1, "a", 5, None)], "k long, v string, ver_a long, ver_b long"
    )
    bad = _vapply(
        target,
        spark.createDataFrame(
            [(1, "a2", 6, 0)], "k long, nv string, va long, vb long"
        ),
    )
    with pytest.raises(Exception, match="TARGET row.*PARTIALLY-NULL") as ei:
        bad.collect()
    assert "BOTH sides" not in str(ei.value)


def test_bench_calibrate_anchor(spark):
    # the ambient anchor (r9 verdict item 4): two pinned jobs, min-of-N
    # floats, stable keys — the fields a future reader normalizes by
    import bench

    out = bench.calibrate(spark, "/root/testdata/sf0.001", reps=1)
    assert set(out) == {"scan_agg", "string_pass"}
    assert all(isinstance(v, float) and v > 0 for v in out.values())


def test_bench_compare_parses_both_formats(tmp_path):
    # the comparator must read a raw bench line AND a driver archive
    # ({"tail": truncated stdout}), and only normalize when both sides
    # carry anchors
    import json
    import sys

    sys.path.insert(0, "scripts")
    import bench_compare as bc

    raw = tmp_path / "raw.json"
    raw.write_text(json.dumps({
        "queries": {"q01_a": 1.0, "q02_b": 2.0, "q99_dead": -1.0},
        "calib_pre": {"scan_agg": 0.3, "string_pass": 0.2},
        "calib_post": {"scan_agg": 0.31, "string_pass": 0.21},
    }))
    arch = tmp_path / "arch.json"
    arch.write_text(json.dumps({
        "tail": '..."q01_a": 1.5, "q02_b": 2.5}, "calib_pre": '
                '{"scan_agg": 0.6, "string_pass": 0.4}, "calib_post": '
                '{"scan_agg": 0.62, "string_pass": 0.42}, "value": 4.0}',
    }))
    qa, aa = bc.load_queries(str(raw))
    qb, ab = bc.load_queries(str(arch))
    assert qa == {"q01_a": 1.0, "q02_b": 2.0}  # failures (-1) dropped
    assert qb == {"q01_a": 1.5, "q02_b": 2.5}
    assert aa is not None and ab is not None
    r_min, r_mean, stable = bc.anchor_ratios(aa, ab)
    assert stable  # both runs' pre/post within 1.5x
    assert 1.9 < r_min < 2.1 and 1.9 < r_mean < 2.1


def test_bench_compare_flags_unstable_run():
    import bench_compare as bc

    a = {"calib_pre": {"j": 0.3}, "calib_post": {"j": 0.3}}
    b = {"calib_pre": {"j": 0.9}, "calib_post": {"j": 0.3}}  # mid-run shift
    r_min, r_mean, stable = bc.anchor_ratios(a, b)
    assert not stable
    assert r_min == 1.0  # best capability equal...
    assert r_mean == 2.0  # ...but the transient doubled the mean


def test_gen_risk_order_reproduces_committed_order():
    # the reorder tool must reproduce the committed order from the
    # SAME inputs it was generated from — the head and source-round
    # range recorded beside the list — so the next rotation is a
    # regeneration, not a hand edit.  Replaying the provenance (not a
    # glob of every artifact) keeps the pin true after the driver
    # lands each round's new CORRECTNESS_r{N}.json (r10 verdict item 1)
    import re
    import sys

    sys.path.insert(0, "scripts")
    import __spark_entry__ as entry
    import gen_risk_order as g

    lo, hi = entry._RISK_ORDER_SOURCE_ROUNDS
    order = g.staleness_order(entry._RISK_ORDER_HEAD, rounds=range(lo, hi + 1))
    src = open("__spark_entry__.py").read()
    start = src.index("_RISK_ORDER = [")
    block = src[start : src.index("\n]", start)]
    committed = re.findall(r'"(q\d+)"', block)
    assert order == committed


def test_gen_risk_order_rejects_unknown_head():
    import sys

    import pytest

    sys.path.insert(0, "scripts")
    import gen_risk_order as g

    with pytest.raises(SystemExit, match="q999"):
        g.staleness_order(["q999"])


def test_gen_risk_order_orders_registered_prefixes_oracle_backed_first():
    # the CORRECTNESS artifacts still name deleted queries (q83 is in
    # r03, r09 and r13), and an oracle-less row gets only a rows-only
    # check, so it must not spend a driver-window slot ahead of any
    # oracle-backed row — not even from the head
    import sys

    from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES

    sys.path.insert(0, "scripts")
    import gen_risk_order as g

    order = g.staleness_order(["q114", "q56"])
    assert sorted(order) == sorted(n.split("_", 1)[0] for n in QUERIES)
    checked = {n.split("_", 1)[0] for n in ORACLE}
    assert set(order[: len(checked)]) == checked
    assert order[0] == "q56"
