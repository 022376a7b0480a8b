"""Round-8 hardening: the r7 ADVICE items — live drop-zone directory
sources must keep polling (the events stream reads its source in place,
flat or nested), checkpoint-ledger identity must survive equivalent
path spellings, and bench's slowest-10 must never list failures."""

from __future__ import annotations

import glob
import os

import pytest

from real_time_stream_processing_engine_spark.streaming.runner import (
    _check_ledger_ckpt,
    _norm_ckpt,
    _read_events_stream,
    _redelivery_dir,
    _scratch_dir,
    stream_events,
)

from .conftest import land, live_counts


# ---------------------------------------------------------------------------
# stream_events reads its source in place
# ---------------------------------------------------------------------------


def test_flat_directory_passes_through_unstaged(spark, tmp_path):
    # a flat zone is read where it lies: no scratch entry, every row
    zone = tmp_path / "sf" / "events.parquet"
    land(str(zone / "a.parquet"), 0, 10)
    land(str(zone / "b.parquet"), 10, 25)
    scratch = os.path.join(_scratch_dir(), "rs_*")
    before = set(glob.glob(scratch))
    src = stream_events(spark, str(tmp_path / "sf"))
    assert set(glob.glob(scratch)) == before
    assert live_counts(src, "r8_flat_unstaged", tmp_path) == [25]


def test_live_drop_zone_streams_late_arriving_files(spark, tmp_path):
    # THE r7 advice case: a part landing AFTER stream start must be
    # streamed on a later trigger, not frozen out by a start snapshot
    zone = tmp_path / "sf" / "events.parquet"
    land(str(zone / "a.parquet"), 0, 10)
    land(str(zone / "b.parquet"), 10, 25)
    src = stream_events(spark, str(tmp_path / "sf"))
    then = lambda: land(str(zone / "c.parquet"), 25, 65)  # noqa: E731
    assert live_counts(src, "r8_flat_live", tmp_path, then) == [25, 65]


def test_nested_drop_zone_streams_part_in_new_subdirectory(spark, tmp_path):
    # a start-time snapshot of a nested zone never saw b2/ at all
    zone = tmp_path / "sf" / "events.parquet"
    land(str(zone / "b1" / "part-0.parquet"), 0, 10)
    src = stream_events(spark, str(tmp_path / "sf"))
    then = lambda: land(str(zone / "b2" / "part-0.parquet"), 10, 50)  # noqa: E731
    assert live_counts(src, "r8_nested_live", tmp_path, then) == [10, 50]


def test_reader_escapes_glob_metacharacters_in_file_name(spark, tmp_path):
    # unescaped, the filter 'ev[1].parquet' would match ev1.parquet only
    land(str(tmp_path / "ev[1].parquet"), 0, 10)
    land(str(tmp_path / "ev1.parquet"), 10, 35)
    src = _read_events_stream(spark, str(tmp_path / "ev[1].parquet"), None)
    assert live_counts(src, "r8_glob_name", tmp_path) == [10]


def test_stream_events_stages_nothing(spark, sf_dir, tmp_path):
    land(str(tmp_path / "sf" / "events.parquet" / "b1" / "p.parquet"), 0, 10)
    scratch = os.path.join(_scratch_dir(), "rs_*")
    before = set(glob.glob(scratch))
    stream_events(spark, sf_dir)
    stream_events(spark, str(tmp_path / "sf"))
    assert set(glob.glob(scratch)) == before


# ---------------------------------------------------------------------------
# only a redelivery drain stages, and it links parquet parts only
# ---------------------------------------------------------------------------


def _links(d):
    return {n: os.readlink(os.path.join(d, n)) for n in os.listdir(d)}


def test_single_file_still_staged(tmp_path, monkeypatch):
    # twice, as two links to the file itself
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    one = str(tmp_path / "events.parquet")
    land(one, 0, 10)
    with _redelivery_dir("t", one, None) as d:
        assert _links(d) == {"events_a.parquet": one, "events_b.parquet": one}
    assert not os.path.exists(d)


def test_mixed_content_directory_still_staged(tmp_path, monkeypatch):
    # the stray file gets no link, so no drain reads it as parquet
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    zone = tmp_path / "zone"
    land(str(zone / "a.parquet"), 0, 10)
    land(str(zone / "b.parquet"), 10, 25)
    (zone / "notes.txt").write_text("not parquet")
    a, b = str(zone / "a.parquet"), str(zone / "b.parquet")
    with _redelivery_dir("t", str(zone), None) as d:
        assert _links(d) == {
            "events_a_a.parquet": a,
            "events_a_b.parquet": b,
            "events_b_a.parquet": a,
            "events_b_b.parquet": b,
        }
    assert not os.path.exists(d)


# ---------------------------------------------------------------------------
# checkpoint-ledger identity: equivalent spellings compare equal
# ---------------------------------------------------------------------------


def test_norm_ckpt_equivalent_spellings(tmp_path):
    ck = str(tmp_path / "ck")
    os.makedirs(ck)
    assert _norm_ckpt(ck + "/") == _norm_ckpt(ck)
    assert _norm_ckpt("file://" + ck) == _norm_ckpt(ck)
    link = str(tmp_path / "alias")
    os.symlink(ck, link)
    assert _norm_ckpt(link) == _norm_ckpt(ck)


def test_norm_ckpt_remote_uri_only_loses_trailing_slash():
    assert _norm_ckpt("hdfs://nn/ck/") == "hdfs://nn/ck"
    assert _norm_ckpt("s3a://bucket/ck") == "s3a://bucket/ck"


def test_ledger_ckpt_same_checkpoint_spellings_accepted(tmp_path):
    ck = str(tmp_path / "ck")
    os.makedirs(ck)
    _check_ledger_ckpt(ck + "/", ck, "/t")
    _check_ledger_ckpt("file://" + ck, ck, "/t")
    _check_ledger_ckpt(None, ck, "/t")


def test_ledger_ckpt_foreign_checkpoint_still_refused(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a)
    os.makedirs(b)
    with pytest.raises(RuntimeError, match="checkpoint-local"):
        _check_ledger_ckpt(a, b, "/t")


# ---------------------------------------------------------------------------
# bench slowest-10: failures (-1) never appear as timings
# ---------------------------------------------------------------------------


def test_bench_slowest10_excludes_failures():
    # exercise bench.py's ACTUAL function (r8 advice: an inline mirror
    # pinned a copy, not the code) against a <10-success timing dict
    from bench import slowest_n

    timings = {"q1": 2.0, "q2": -1.0, "q3": 0.5, "q4": -1.0}
    assert slowest_n(timings) == {"q1": 2.0, "q3": 0.5}
    # descending order and the n cut
    assert list(slowest_n({"a": 1.0, "b": 3.0, "c": 2.0}, n=2)) == ["b", "c"]
