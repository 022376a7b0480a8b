"""Round-9 hardening: the r8 ADVICE items — `file:`-scheme checkpoint
spellings normalize (single-slash Hadoop canonical form included), a
drop zone with stray non-parquet entries keeps streaming live and
skips them, basket_similarity's drop accounting survives q141's own
transformations, and a partially-NULL insert version is refused by the
versioned upsert instead of seeding an always-overwritable row."""

from __future__ import annotations

import os

import pytest

from real_time_stream_processing_engine_spark.streaming.runner import (
    _norm_ckpt,
    run_to_memory_available_now,
    stream_events,
)

from .conftest import land, live_counts


# ---------------------------------------------------------------------------
# _norm_ckpt: every file: spelling of one local path compares equal
# ---------------------------------------------------------------------------


def test_norm_ckpt_single_slash_file_scheme(tmp_path):
    # Hadoop/Spark's canonical spelling has ONE slash (file:/tmp/ck);
    # it has no '://', so the old 'file://'-only strip fell through to
    # realpath, which joined 'file:/tmp/ck' onto the cwd (r8 advice).
    ck = str(tmp_path / "ck")
    os.makedirs(ck)
    assert (
        _norm_ckpt(f"file:{ck}")
        == _norm_ckpt(f"file://{ck}")
        == _norm_ckpt(f"file://{ck}/")
        == _norm_ckpt(ck)
        == os.path.realpath(ck)
    )


def test_norm_ckpt_remote_uri_still_untouched():
    assert _norm_ckpt("hdfs://nn:8020/ck/") == "hdfs://nn:8020/ck"
    assert _norm_ckpt("s3a://bucket/ck") == "s3a://bucket/ck"


# ---------------------------------------------------------------------------
# a drop zone's stray entries are skipped; the stream stays live
# ---------------------------------------------------------------------------


def test_flat_dir_without_strays_does_not_warn(spark, tmp_path):
    import warnings

    zone = tmp_path / "sf" / "events.parquet"
    land(str(zone / "a.parquet"), 0, 10)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        src = stream_events(spark, str(tmp_path / "sf"))
    assert live_counts(src, "r9_flat_no_warn", tmp_path) == [10]


def test_stray_entries_skipped_and_stream_stays_live(spark, tmp_path):
    import warnings

    zone = tmp_path / "sf" / "events.parquet"
    land(str(zone / "a.parquet"), 0, 10)
    (zone / "stray.csv").write_text("not,parquet\n")
    (zone / "_SUCCESS").write_text("")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        src = stream_events(spark, str(tmp_path / "sf"))
    then = lambda: land(str(zone / "b.parquet"), 10, 50)  # noqa: E731
    assert live_counts(src, "r9_stray_live", tmp_path, then) == [10, 50]


# ---------------------------------------------------------------------------
# basket_similarity accounting: q141 captures it before .select()
# ---------------------------------------------------------------------------


def test_q141_result_carries_popularity_overflow(spark):
    from real_time_stream_processing_engine_spark.queries import QUERIES

    out = QUERIES["q141_basket_similarity"](spark, "/root/testdata/sf0.001")
    audit = out.popularity_overflow
    assert audit is not None
    row = audit.collect()[0]
    # no part binds the 1000 cap at sf0.001, but the accounting frame
    # must be live and well-formed on the RETURNED (post-.select) frame
    assert row.items_dropped == 0 and row.max_popularity > 0


def test_basket_similarity_derived_frame_drops_attribute(spark):
    # the documented contract: the attribute exists ONLY on the
    # immediate return value — capture before transforming
    from real_time_stream_processing_engine_spark.operators.dedup import (
        basket_similarity,
    )

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2)], "entity long, item long"
    )
    sim = basket_similarity(df, min_common=1, max_item_popularity=10)
    assert sim.popularity_overflow is not None
    assert getattr(sim.select("a"), "popularity_overflow", None) is None


# ---------------------------------------------------------------------------
# versioned upsert: partially-NULL INSERT versions refused; all-NULL legal
# ---------------------------------------------------------------------------


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


def test_versioned_insert_partial_null_version_refused(spark):
    # (va=3, vb=NULL) on a NEW key used to seed a never-versioned row
    # that ANY later update — older included — overwrites (r8 advice)
    target = spark.createDataFrame(
        [(1, "a", 5, 1)], "k long, v string, ver_a long, ver_b long"
    )
    bad = _vapply(
        target,
        spark.createDataFrame(
            [(7, "new", 3, None)], "k long, nv string, va long, vb long"
        ),
    )
    with pytest.raises(Exception, match="PARTIALLY-NULL"):
        bad.collect()


def test_versioned_insert_all_null_version_still_seeds(spark):
    # fully-NULL = the seeded-together first-materialization contract;
    # stays legal, and the first VERSIONED update then claims the row
    target = spark.createDataFrame(
        [(1, "a", 5, 1)], "k long, v string, ver_a long, ver_b long"
    )
    seeded = _vapply(
        target,
        spark.createDataFrame(
            [(7, "new", None, None)], "k long, nv string, va long, vb long"
        ),
    )
    got = {r.k: (r.v, r.ver_a, r.ver_b) for r in seeded.collect()}
    assert got == {1: ("a", 5, 1), 7: ("new", None, None)}
    claimed = _vapply(
        seeded,
        spark.createDataFrame(
            [(7, "v1", 1, 0)], "k long, nv string, va long, vb long"
        ),
    )
    got2 = {r.k: (r.v, r.ver_a, r.ver_b) for r in claimed.collect()}
    assert got2[7] == ("v1", 1, 0)


# ---------------------------------------------------------------------------
# strip_file_scheme: file:-spelled LOCAL dirs reach os.path-based
# consumers normalized (r9 review: register_tables silently registered
# ZERO views for any file: spelling — every exists() probe was False)
# ---------------------------------------------------------------------------


def test_strip_file_scheme_spellings():
    from real_time_stream_processing_engine_spark.sources.fsmeta import (
        strip_file_scheme,
    )

    assert strip_file_scheme("file:/tmp/x") == "/tmp/x"
    assert strip_file_scheme("file:///tmp/x") == "/tmp/x"
    # RFC 8089 / Hadoop: empty or 'localhost' authority = this machine
    assert strip_file_scheme("file://localhost/tmp/x") == "/tmp/x"
    # any OTHER authority is ambiguous (host? sloppy path?) — refuse
    # loudly with both readings instead of silently guessing either
    with pytest.raises(ValueError, match="authority"):
        strip_file_scheme("file://tmp/x")
    with pytest.raises(ValueError, match="authority"):
        strip_file_scheme("file://somehost/data/x")
    # non-file strings untouched, scheme case-sensitive like Hadoop's
    assert strip_file_scheme("/tmp/x") == "/tmp/x"
    assert strip_file_scheme("hdfs://nn/x") == "hdfs://nn/x"
    assert strip_file_scheme("s3a://b/x") == "s3a://b/x"


def test_register_tables_accepts_file_scheme_spellings(spark):
    from real_time_stream_processing_engine_spark.sources.readers import (
        register_tables,
    )

    sf = "/root/testdata/sf0.001"
    bare = sorted(register_tables(spark, sf))
    assert bare, "bare-path registration must find the testdata tables"
    for spelled in (f"file:{sf}", f"file://{sf}", f"file://{sf}/"):
        assert sorted(register_tables(spark, spelled)) == bare, spelled
    # remote URIs are still refused loudly
    with pytest.raises(ValueError, match="local-FS only"):
        register_tables(spark, "hdfs://nn:8020/testdata")


def test_load_table_accepts_file_scheme_dir(spark):
    from real_time_stream_processing_engine_spark.sources.readers import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    n_bare = load_table(spark, sf, "region").count()
    # 'events' exercises the ts-unit footer sniff (os.walk underneath),
    # which used to die on "no such dataset: file:/..." while the bare
    # spelling worked
    n_events = load_table(spark, f"file:{sf}", "events").count()
    assert load_table(spark, f"file://{sf}", "region").count() == n_bare
    assert n_events == load_table(spark, sf, "events").count()


def test_stream_events_accepts_file_scheme(spark, sf_dir, tmp_path):
    # file:-spelled drop zones and single files stream exactly like
    # their bare spellings instead of dying in an os-level listing
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    zone = tmp_path / "sf" / "events.parquet"
    land(str(zone / "a.parquet"), 0, 10)
    land(str(zone / "b" / "c.parquet"), 10, 25)

    def rows(sf):
        src = stream_events(spark, sf).select("event_id")
        return run_to_memory_available_now(src, output_mode="append").frame.count()

    assert rows(f"file://{tmp_path / 'sf'}") == rows(f"file:{tmp_path / 'sf'}") == 25
    # a single file streams all its rows, whichever the spelling
    assert rows(f"file:{sf_dir}") == rows(sf_dir) == load_table(spark, sf_dir, "events").count()


def test_list_part_files_normalizes_file_scheme():
    from real_time_stream_processing_engine_spark.sources.fsmeta import (
        list_part_files,
    )

    bare = list_part_files("/root/testdata/sf0.001/events.parquet")
    spelled = list_part_files("file:/root/testdata/sf0.001/events.parquet")
    assert spelled == bare and bare


def test_streaming_source_accepts_file_scheme_sf_dir(spark):
    # the review's crash scenario: SPARK_GRAFT_SF_DIR=file:/... made
    # every maintained-table stream die in list_part_files while the
    # batch side worked — the schema sniff and staging now normalize
    # at the fsmeta entry point
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_events,
    )

    src = stream_events(spark, "file:/root/testdata/sf0.001")
    assert src.isStreaming
    assert "event_id" in src.columns


def test_dataset_key_spelling_invariant():
    from real_time_stream_processing_engine_spark.queries import _dataset_key

    sf = "/root/testdata/sf0.001"
    k = _dataset_key(sf)
    # one key per physical dir: scheme spellings and trailing slashes
    # collapse; a different dir gets a different key (scratch reuse
    # depends on both directions)
    assert _dataset_key(f"file:{sf}") == k
    assert _dataset_key(f"file://{sf}") == k
    assert _dataset_key(sf + "/") == k
    assert _dataset_key("/root/testdata/sf0.01") != k
