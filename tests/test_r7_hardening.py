"""Round-7 hardening: the r6 verdict's distributed_cumsum offsets cap
plus the four ADVICE items (rrf_fuse identifier safety, flattening
NULL-group refusal, systematic PPS decimal overflow path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.operators.sampling import (
    flattening_sample,
    systematic_weighted_sample,
)
from real_time_stream_processing_engine_spark.operators.similarity import rrf_fuse
from real_time_stream_processing_engine_spark.operators.stats import (
    distributed_cumsum,
)


# ---------------------------------------------------------------------------
# distributed_cumsum: the offsets collect is capped, not assumed-small
# ---------------------------------------------------------------------------


def test_cumsum_offsets_cap_refuses_datasized_group_key(spark):
    # 50 distinct groups against a cap of 10: the offsets table
    # (|groups| + spanning rows) must trip the guard BEFORE any
    # unbounded collect
    d = spark.createDataFrame(
        [(i, i % 50, 1) for i in range(200)], "rid long, g long, v long"
    )
    with pytest.raises(ValueError, match="max_offset_rows"):
        distributed_cumsum(
            d, ["rid"], "v", group_cols=["g"], max_offset_rows=10
        )


def test_cumsum_unchanged_under_cap(spark):
    # same data under a generous cap: exact global running sum
    d = spark.createDataFrame(
        [(i, (i * 7) % 10 + 1) for i in range(100)], "rid long, v long"
    )
    rows = {
        r.rid: (r.rk, int(r.cum))
        for r in distributed_cumsum(d, ["rid"], "v").collect()
    }
    run = 0
    for i in range(100):
        run += (i * 7) % 10 + 1
        assert rows[i] == (i + 1, run)


def test_cumsum_grouped_offsets_bounded_by_groups_plus_partitions(spark):
    # 3 groups, any partition count: cap of (3 + 32) rows must admit it
    d = spark.createDataFrame(
        [(i, i % 3, 2) for i in range(90)], "rid long, g long, v long"
    )
    out = distributed_cumsum(
        d, ["rid"], "v", group_cols=["g"], max_offset_rows=3 + 32
    ).collect()
    assert len(out) == 90
    by_g = {}
    for r in sorted(out, key=lambda r: (r.g, r.rid)):
        by_g[r.g] = by_g.get(r.g, 0) + 2
        assert int(r.cum) == by_g[r.g]


# ---------------------------------------------------------------------------
# rrf_fuse: run names are column refs, not SQL text
# ---------------------------------------------------------------------------


def test_rrf_fuse_hyphenated_run_name(spark):
    # a run name that is not a bare SQL identifier used to parse-error
    # inside F.expr; the column-API form must treat it as data
    a = spark.createDataFrame([(1, 1), (2, 2)], "vec_id long, rank long")
    b = spark.createDataFrame([(2, 1)], "vec_id long, rank long")
    rows = {
        r.vec_id: r.rrf_ppm
        for r in rrf_fuse({"cos-v2": a, "bm25 run": b}, k0=60).collect()
    }
    assert rows[1] == 1_000_000 // 61
    assert rows[2] == 1_000_000 // 62 + 1_000_000 // 61


def test_rrf_fuse_dotted_and_backticked_run_names(spark):
    # dots are the nasty case: F.col parses them as nested-field
    # access, so "cos.v2" must be backtick-quoted internally; a
    # backtick in the name must be escaped, not break the quoting
    a = spark.createDataFrame([(1, 1)], "vec_id long, rank long")
    b = spark.createDataFrame([(1, 2)], "vec_id long, rank long")
    out = rrf_fuse({"cos.v2": a, "bm`25": b}, k0=60).collect()
    assert out[0].rrf_ppm == 1_000_000 // 61 + 1_000_000 // 62
    cols = set(out[0].asDict())
    assert "rank_cos.v2" in cols and "rank_bm`25" in cols


def test_rrf_fuse_scores_unchanged(spark):
    # regression pin: identical ppm math as the expr form it replaced
    a = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "vec_id long, rank long"
    )
    rows = {r.vec_id: r.rrf_ppm for r in rrf_fuse({"a": a}, k0=60).collect()}
    assert rows == {i: 1_000_000 // (60 + i) for i in range(1, 6)}


# ---------------------------------------------------------------------------
# flattening_sample: NULL group is refused, not silently dropped
# ---------------------------------------------------------------------------


def test_flattening_sample_null_group_raises(spark):
    d = spark.createDataFrame(
        [(1, "web"), (2, None), (3, "web")], "doc_id long, src string"
    )
    with pytest.raises(Exception, match="null src"):
        flattening_sample(d, "src", "doc_id", target_per_group=10).collect()


def test_flattening_sample_keep_set_unchanged(spark):
    # the guard must not perturb the deterministic keep set
    d = spark.createDataFrame(
        [(i, "s") for i in range(200)], "doc_id long, src string"
    )
    kept = sorted(
        r.doc_id
        for r in flattening_sample(d, "src", "doc_id", 50, seed="fl1").collect()
    )
    again = sorted(
        r.doc_id
        for r in flattening_sample(
            d.repartition(5), "src", "doc_id", 50, seed="fl1"
        ).collect()
    )
    assert kept == again
    assert 20 <= len(kept) <= 80  # expected 50 of 200 at rate 0.25


# ---------------------------------------------------------------------------
# systematic_weighted_sample: cum * k is DECIMAL — no BIGINT overflow
# ---------------------------------------------------------------------------


def test_systematic_pps_huge_weights_no_overflow(spark):
    # three rows near the BIGINT ceiling: cum (DECIMAL(38,0) from
    # distributed_cumsum) times k stays decimal — 9e18 * 1000 is fine,
    # and the filter must not narrow cum to a smaller decimal on the
    # way (the operator's output contract caps cum at BIGINT, which
    # this total approaches but respects).  Every row is wider than a
    # stratum, so all 3 are picked.
    w = 3_000_000_000_000_000_000  # 3e18
    d = spark.createDataFrame(
        [(1, w), (2, w), (3, w)], "rid long, wt long"
    )
    out = systematic_weighted_sample(d, "wt", ["rid"], k=1000).collect()
    assert sorted(r.rid for r in out) == [1, 2, 3]
    # strata: row i covers ((i-1)*w*k) div tot + 1 = (i-1)*1000//3 + 1
    strata = {r.rid: r.stratum for r in out}
    assert strata == {1: 1, 2: 1000 // 3 + 1, 3: 2000 // 3 + 1}


def test_systematic_pps_small_case_unchanged(spark):
    # regression pin vs the brute-force definition on small ints
    d = spark.createDataFrame(
        [(i, i) for i in range(1, 11)], "rid long, wt long"
    )
    out = systematic_weighted_sample(d, "wt", ["rid"], k=5).collect()
    tot = sum(range(1, 11))  # 55
    cum = 0
    expect = []
    for i in range(1, 11):
        lo, cum = cum, cum + i
        if (cum * 5) // tot > (lo * 5) // tot:
            expect.append((i, (lo * 5) // tot + 1))
    assert sorted((r.rid, r.stratum) for r in out) == expect


# ---------------------------------------------------------------------------
# streaming runner hardening (r7 review pass over runner.py)
# ---------------------------------------------------------------------------


def _mini_events(spark, sf_dir, n=60):
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "events").limit(n).cache()


def test_stream_dir_nested_layout_streams_every_part(spark, sf_dir, tmp_path):
    # a nested drop-zone layout (batch1/part, batch2/part) passed as a
    # DIRECTORY source used to stream only top-level files (none here)
    # because the file source lists non-recursively; staging through
    # _expand_links must surface every part
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_grouped_counts,
    )

    ev = _mini_events(spark, sf_dir)
    root = tmp_path / "sf" / "events.parquet"
    ev.limit(30).coalesce(1).write.parquet(str(root / "batch1"))
    ev.subtract(ev.limit(30)).coalesce(1).write.parquet(str(root / "batch2"))
    got = stream_grouped_counts(spark, str(tmp_path / "sf"))
    want = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(str(root))
        .groupBy("event_type")
        .count()
        .collect()
    )
    assert {(r.event_type, r.cnt) for r in got.collect()} == {
        (r.event_type, r["count"]) for r in want
    }


def test_stream_dir_hive_layout_refused(spark, sf_dir, tmp_path):
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_grouped_counts,
    )

    ev = _mini_events(spark, sf_dir)
    root = tmp_path / "sf" / "events.parquet"
    ev.limit(20).coalesce(1).write.parquet(str(root / "day=1"))
    with pytest.raises(RuntimeError, match="hive"):
        stream_grouped_counts(spark, str(tmp_path / "sf")).collect()


def test_binned_counts_refuses_foreign_checkpoint(spark, sf_dir, tmp_path):
    # reuse a maintained target under a FRESH checkpoint: batch ids are
    # checkpoint-local, so the old silent behavior (skip every new
    # batch) must now be a loud refusal
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_binned_counts,
    )

    tgt = str(tmp_path / "tgt")
    first = stream_binned_counts(
        spark, sf_dir, target_path=tgt, checkpoint=str(tmp_path / "ck_a")
    ).collect()
    assert first
    with pytest.raises(Exception, match="checkpoint-local"):
        stream_binned_counts(
            spark, sf_dir, target_path=tgt, checkpoint=str(tmp_path / "ck_b")
        ).collect()


def test_binned_counts_same_checkpoint_resume_is_noop(spark, sf_dir, tmp_path):
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_binned_counts,
    )

    tgt = str(tmp_path / "tgt")
    ck = str(tmp_path / "ck")
    first = {
        (r.event_type, r.bin): r.n
        for r in stream_binned_counts(
            spark, sf_dir, target_path=tgt, checkpoint=ck
        ).collect()
    }
    again = {
        (r.event_type, r.bin): r.n
        for r in stream_binned_counts(
            spark, sf_dir, target_path=tgt, checkpoint=ck
        ).collect()
    }
    assert first == again


def test_default_checkpoints_are_reclaimed(spark, sf_dir, tmp_path):
    # default (fresh-uuid) checkpoints are unresumable by construction;
    # a clean drain must not leak them on tmpfs (r7 review: bench loops
    # over the foreachBatch sinks grew /dev/shm without bound).  The
    # source staging dirs of those drains go with them: the events
    # table is linked in from a fresh path, so a content-keyed staging
    # dir left behind would be a new entry
    import glob
    import os

    from real_time_stream_processing_engine_spark.streaming.runner import (
        _scratch_dir,
        stream_binned_counts,
        stream_bitmap_dau,
        stream_dedup_counts,
    )

    os.symlink(
        os.path.join(sf_dir, "events.parquet"), tmp_path / "events.parquet"
    )
    src = str(tmp_path)

    def entries(*tags):
        return {
            p
            for t in tags
            for p in glob.glob(os.path.join(_scratch_dir(), f"rs_{t}_*"))
        }

    before = entries("ckpt_rs_dau", "daudir", "dupdir")
    stream_bitmap_dau(spark, src).collect()
    stream_dedup_counts(spark, src).collect()
    assert entries("ckpt_rs_dau", "daudir", "dupdir") <= before
    # a crashed drain cannot be resumed from a checkpoint the caller
    # never saw, so that one and its staging dir are reclaimed too
    before = entries("ckpt_rs_psi", "psidir")
    with pytest.raises(Exception, match="injected sink crash"):
        stream_binned_counts(spark, src, fail_after_batches=0)
    assert entries("ckpt_rs_psi", "psidir") <= before


# ---------------------------------------------------------------------------
# sources hardening (r7 review pass over sources/)
# ---------------------------------------------------------------------------


def test_recover_swap_prefers_paired_set_over_stale_old(spark, tmp_path):
    # target missing; a STALE lone old (token sorts first) sits beside
    # an in-flight (old, tmp) pair.  Rolling back the stale old — the
    # previous sorted-first-token behavior — would resurrect the oldest
    # snapshot and delete the newest committed data; recovery must
    # forward-finish the PAIR.
    import os
    import shutil

    from real_time_stream_processing_engine_spark.sources.catalog import (
        recover_swap,
        replace_contents,
    )

    tgt = str(tmp_path / "tbl")

    def write_version(path, v):
        spark.createDataFrame([(v,)], "ver long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    replace_contents(spark.createDataFrame([(1,)], "ver long"), tgt)
    # stale old from a failed step-4 delete (token 'aaaa' sorts first)
    write_version(f"{tgt}__swap_old_aaaa", 0)
    # in-flight swap 'bbbb' crashed between steps 2 and 3:
    os.rename(tgt, f"{tgt}__swap_old_bbbb")          # step 2 done
    write_version(f"{tgt}__swap_tmp_bbbb", 2)        # tmp complete
    assert recover_swap(spark, tgt)
    assert spark.read.parquet(tgt).head().ver == 2   # newest wins
    leftovers = [d for d in os.listdir(tmp_path) if "__swap_" in d]
    assert leftovers == []
    shutil.rmtree(tgt, ignore_errors=True)


def test_recover_swap_single_lone_old_rolls_back(spark, tmp_path):
    import os

    from real_time_stream_processing_engine_spark.sources.catalog import (
        recover_swap,
        replace_contents,
    )

    tgt = str(tmp_path / "tbl2")
    replace_contents(spark.createDataFrame([(7,)], "ver long"), tgt)
    os.rename(tgt, f"{tgt}__swap_old_cccc")
    assert recover_swap(spark, tgt)
    assert spark.read.parquet(tgt).head().ver == 7


def test_list_part_files_missing_path_fails_fast():
    from real_time_stream_processing_engine_spark.sources.fsmeta import (
        list_part_files,
    )

    with pytest.raises(FileNotFoundError, match="no_such_dataset_xyz"):
        list_part_files("/tmp/no_such_dataset_xyz")


def test_register_tables_remote_uri_refused(spark):
    from real_time_stream_processing_engine_spark.sources.readers import (
        register_tables,
    )

    with pytest.raises(ValueError, match="local-FS only"):
        register_tables(spark, "s3a://bucket/sf")


def test_build_time_partitioned_rebuild_is_swapped(spark, sf_dir, tmp_path):
    # a forced rebuild must go through the atomic swap: afterwards the
    # layout is complete, readable, and no swap scratch remains
    import os

    from real_time_stream_processing_engine_spark.sources.catalog import (
        build_time_partitioned,
    )
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").limit(200)
    path = str(tmp_path / "events_by_day")
    build_time_partitioned(ev, path)
    n1 = spark.read.parquet(path).count()
    build_time_partitioned(ev, path, force=True)
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 == 200
    assert not [d for d in os.listdir(tmp_path) if "__swap_" in d]
    assert any(d.startswith("event_date=") for d in os.listdir(path))


# ---------------------------------------------------------------------------
# text/windows hardening (r7 review pass)
# ---------------------------------------------------------------------------


def test_regex_redact_dollar_label_is_literal(spark):
    from real_time_stream_processing_engine_spark.operators.text import (
        regex_redact,
    )

    d = spark.createDataFrame([("cost 12 usd",)], "text string")
    out = regex_redact(d, {"price$": r"\d+"}).head()
    # a $ in the label is masked literally, never read as a Java
    # group reference (which used to throw or splice matched text)
    assert out.redacted == "cost [PRICE$] usd"
    assert out["n_price$"] == 1


def test_sessionize_null_ts_excluded_and_tiebreak_param(spark):
    from real_time_stream_processing_engine_spark.operators.windows import (
        sessionize,
    )

    d = spark.createDataFrame(
        [(1, "2020-01-01 10:00:00", 1), (1, None, 2), (1, "2020-01-01 10:10:00", 3)],
        "account long, when string, eid long",
    ).selectExpr("account", "cast(when as timestamp) as when", "eid")
    out = sessionize(
        d, user_col="account", ts_col="when", tiebreak_col="eid"
    ).collect()
    # the NULL-ts row is excluded (no phantom one-event session), and
    # the two real events gap-join into one session under the 30 min gap
    assert len(out) == 1 and out[0].n_events == 2


def test_asof_join_collision_guard_and_us_unit(spark):
    from real_time_stream_processing_engine_spark.operators.windows import (
        asof_join,
    )

    left = spark.createDataFrame(
        [(1, "2020-01-01 10:00:00.100")], "k long, lts string"
    ).selectExpr("k", "cast(lts as timestamp) as lts")
    right = spark.createDataFrame(
        [(1, "2020-01-01 10:00:00.900", 42.0)], "k long, rts string, v double"
    ).selectExpr("k", "cast(rts as timestamp) as rts", "v")
    # declared second-granularity: both round to the same second, so
    # backward matches (the documented truncation)
    s = asof_join(left, right, "k", "lts", "rts", ["v"]).head()
    assert s.asof_v == 42.0
    # microsecond unit: the right row is 800ms in the FUTURE -> no match
    us = asof_join(left, right, "k", "lts", "rts", ["v"], unit="us").head()
    assert us.asof_v is None
    # helper-name collision refuses instead of corrupting the output
    bad = left.withColumn("asof_ts", F.lit(0))
    with pytest.raises(ValueError, match="asof_ts"):
        asof_join(bad, right, "k", "lts", "rts", ["v"])


def test_quality_features_id_col_param(spark):
    from real_time_stream_processing_engine_spark.operators.text import (
        quality_features,
    )

    d = spark.createDataFrame([(9, "the quick brown fox.")], "id long, body string")
    out = quality_features(d, text_col="body", id_col="id").head()
    assert out.id == 9 and out.n_tokens == 4


def test_lang_id_score_column_clash_refused(spark):
    from real_time_stream_processing_engine_spark.operators.text import lang_id

    d = spark.createDataFrame([("the and of", 1)], "text string, _s_en long")
    with pytest.raises(ValueError, match="_s_en"):
        lang_id(d)


# ---------------------------------------------------------------------------
# cdc / indexing / sinks hardening (r7 review pass)
# ---------------------------------------------------------------------------


def _merge_frames(spark):
    t = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], "k long, bal double, name string"
    )
    u = spark.createDataFrame(
        [(2, 99.0, "B"), (3, 30.0, "c")], "k long, nb double, nn string"
    )
    return t, u


def test_upsert_typoed_destination_refused(spark):
    from real_time_stream_processing_engine_spark.operators.cdc import (
        apply_upsert,
    )

    t, u = _merge_frames(spark)
    # 'balance' does not exist on the target: the old code silently
    # dropped the mapping while still tagging rows op='update'
    with pytest.raises(ValueError, match="balance"):
        apply_upsert(t, u, ["k"], set_cols={"balance": "nb"})


def test_upsert_missing_source_refused(spark):
    from real_time_stream_processing_engine_spark.operators.cdc import (
        apply_upsert,
    )

    t, u = _merge_frames(spark)
    with pytest.raises(ValueError, match="no_such"):
        apply_upsert(t, u, ["k"], set_cols={"bal": "no_such"})


def test_upsert_present_name_refused(spark):
    from real_time_stream_processing_engine_spark.operators.cdc import (
        apply_upsert,
    )

    t = spark.createDataFrame([(1, 1.0)], "present long, bal double")
    u = spark.createDataFrame([(1, 2.0)], "present long, nb double")
    with pytest.raises(ValueError, match="present"):
        apply_upsert(t, u, ["present"], set_cols={"bal": "nb"})


def test_versioned_set_version_overlap_refused(spark):
    from real_time_stream_processing_engine_spark.operators.cdc import (
        apply_upsert_versioned,
    )

    t = spark.createDataFrame([(1, 1.0, None)], "k long, bal double, ver_ts timestamp")
    u = spark.createDataFrame([(1, 2.0, "2020-01-01 00:00:00")],
                              "k long, nb double, ts string")
    u = u.selectExpr("k", "nb", "cast(ts as timestamp) as ts")
    with pytest.raises(ValueError, match="BOTH set_cols and version_cols"):
        apply_upsert_versioned(
            t, u, ["k"], set_cols={"ver_ts": "ts"},
            version_cols={"ver_ts": "ts"},
        )


def test_upsert_merge_semantics_unchanged(spark):
    # regression pin across the r7 shared-core refactor
    from real_time_stream_processing_engine_spark.operators.cdc import (
        apply_upsert,
    )

    t, u = _merge_frames(spark)
    rows = {
        r.k: (r.bal, r.name, r.op)
        for r in apply_upsert(
            t, u, ["k"], set_cols={"bal": "nb"}, insert_only_cols={"name": "nn"}
        ).collect()
    }
    assert rows == {
        1: (10.0, "a", "keep"),
        2: (99.0, "b", "update"),   # name untouched on update
        3: (30.0, "c", "insert"),
    }


def test_params_fingerprint_refuses_unstable_objects():
    from real_time_stream_processing_engine_spark.operators.indexing import (
        params_fingerprint,
    )

    class Tok:
        pass

    with pytest.raises(TypeError, match="json-serializable"):
        params_fingerprint({"tokenizer": Tok()})


def test_bm25_rebuild_crash_leaves_no_stale_manifest(spark, sf_dir, tmp_path, monkeypatch):
    # a rebuild that crashes after overwriting components must NOT
    # leave the old manifest validating a mixed-generation index
    from real_time_stream_processing_engine_spark.operators import indexing, text
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    path = str(tmp_path / "bm25")
    text.build_bm25_index(docs, path, n_shards=4)
    fp_old = indexing.params_fingerprint(
        {"id": "doc_id", "text": "text", "n_shards": 4, "seed": "bm25shard", "v": 1}
    )
    assert indexing.manifest_matches(spark, path, fp_old)

    def boom(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(
        "real_time_stream_processing_engine_spark.operators.indexing.write_manifest",
        boom,
    )
    with pytest.raises(RuntimeError, match="injected"):
        text.build_bm25_index(docs, path, n_shards=8)
    # the old manifest is gone: the next build rebuilds from scratch
    assert not indexing.manifest_matches(spark, path, fp_old)


def test_sinks_package_exports_training_shards():
    from real_time_stream_processing_engine_spark.sinks import (  # noqa: F401
        write_training_shards,
    )


# ---------------------------------------------------------------------------
# graph / sketches / stats hardening (r7 review pass)
# ---------------------------------------------------------------------------


def test_cumsum_null_group_rows_survive(spark):
    # NULL is a normal group for Window.partitionBy; the offsets join
    # must not silently drop those rows (plain equi-join would)
    d = spark.createDataFrame(
        [(1, "a", 1), (2, None, 1), (3, None, 1), (4, "a", 1)],
        "rid long, g string, v long",
    )
    out = distributed_cumsum(d, ["rid"], "v", group_cols=["g"]).collect()
    assert len(out) == 4
    nulls = sorted((r.rid, int(r.cum)) for r in out if r.g is None)
    assert nulls == [(2, 1), (3, 2)]


def test_cumsum_fractional_value_refused(spark):
    d = spark.createDataFrame([(1, 0.5)], "rid long, v double")
    with pytest.raises(TypeError, match="integral"):
        distributed_cumsum(d, ["rid"], "v")


def test_bloom_prefilter_modulus_mismatch_refused(spark):
    from real_time_stream_processing_engine_spark.operators.sketches import (
        bloom_build,
        bloom_prefilter,
    )

    dim = spark.createDataFrame([(i,) for i in range(20)], "k long")
    bm = bloom_build(dim, "k", num_bits=1 << 16)
    with pytest.raises(ValueError, match="false negatives"):
        bloom_prefilter(dim, "k", bm, num_bits=1 << 20)
    # matching modulus keeps the no-false-negatives guarantee
    kept = bloom_prefilter(dim, "k", bm, num_bits=1 << 16).count()
    assert kept == 20


def test_kcore_canonicalizes_symmetrized_and_selfloop_edges(spark):
    from real_time_stream_processing_engine_spark.operators.graph import kcore

    # a path a-b-c given SYMMETRIZED (+ a self-loop): every true degree
    # is < 2, so kcore(k=2) must strip everything; inflated degrees
    # from the duplicate/self-loop edges used to keep fake core nodes
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (4, 4)], "src long, dst long"
    )
    assert kcore(e, k=2, rounds=4).count() == 0


def test_triangle_stats_empty_graph_zeros(spark):
    from real_time_stream_processing_engine_spark.operators.graph import (
        triangle_stats,
    )

    e = spark.createDataFrame([(7, 7)], "u long, v long")  # self-loop only
    r = triangle_stats(e).head()
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (0, 0, 0, 0)
    assert r.clustering_ppm is None


# ---------------------------------------------------------------------------
# dedup / similarity hardening (r7 review pass)
# ---------------------------------------------------------------------------


def test_exact_rank_zero_norm_vector_excluded(spark):
    # a zero embedding must neither ANSI-fail the query nor occupy a
    # top-k slot with a NULL score
    from real_time_stream_processing_engine_spark.operators.similarity import (
        brute_force_topk,
    )

    d = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.8, 0.6])],
        "vec_id long, embedding array<float>",
    )
    rows = brute_force_topk(d, [1.0, 0.0], k=3).collect()
    ids = [r.vec_id for r in rows]
    assert ids[:2] == [1, 3] and (len(ids) == 2 or rows[-1].cos_sim is None or ids[-1] == 2)
    assert all(r.cos_sim is not None for r in rows[:2])


def test_pq_adc_null_codes_sort_last(spark):
    from real_time_stream_processing_engine_spark.operators.similarity import (
        pq_adc_topk,
    )

    enc = spark.createDataFrame(
        [(1, [0, 0]), (2, None), (3, [1, 1])],
        "vec_id long, pq_codes array<int>",
    )
    lut = [[0.1, 0.9], [0.1, 0.9]]
    rows = pq_adc_topk(enc, lut, k=3).collect()
    # NULL codes are UNRANKABLE and filtered (a NULL index does not
    # even null-propagate through element_at on this build — it
    # produced a bogus in-range lookup, so ordering can't save it)
    assert [r.vec_id for r in rows] == [1, 3]


# ---------------------------------------------------------------------------
# multimodal / skew hardening (r7 review pass)
# ---------------------------------------------------------------------------


def test_truncated_clip_rolls_back_partial_frames(spark):
    # 2 valid frames + a truncated third: the doc must emit ONLY the
    # quarantine row, not "2 valid frames of a short clip"
    import numpy as np

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        encode_ppm,
        sample_video_frames,
    )

    f = encode_ppm(np.full((2, 2, 3), 7, dtype=np.uint8))
    clip = f + f + f[: len(f) - 4]
    d = spark.createDataFrame([(1, bytearray(clip))], "doc_id long, payload binary")
    rows = sample_video_frames(d, stride=1).collect()
    assert len(rows) == 1 and rows[0].frame_idx == -1
    assert "truncated" in rows[0].decode_error


def test_null_text_rows_excluded_from_fake_decodes(spark):
    from real_time_stream_processing_engine_spark.operators.multimodal import (
        extract_features,
    )

    d = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id long, text string"
    )
    assert {r.doc_id for r in extract_features(d).collect()} == {1}


def test_frame_sampler_and_salt_guards(spark):
    import pytest as _pytest

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )
    from real_time_stream_processing_engine_spark.operators.skew import (
        salted_join,
    )
    import numpy as np

    with _pytest.raises(ValueError, match="n_salt"):
        d = spark.createDataFrame([(1, 1)], "k long, v long")
        salted_join(d, d, "k", n_salt=0)
    # zero-channel WAV rejects with the contract's ValueError
    wav = bytearray(encode_wav(np.zeros(4, dtype=np.int16)))
    wav[22:24] = (0).to_bytes(2, "little")  # n_ch = 0 in the fmt chunk
    with _pytest.raises(ValueError, match="channels=0"):
        decode_wav(bytes(wav))
