"""Tests for the sink plane (E3) and storage-catalog parity (§2.4)."""

from __future__ import annotations

import pytest

from real_time_stream_processing_engine_spark.sinks import (
    stream_to_files,
    write_results,
    write_results_with_provenance,
)
from real_time_stream_processing_engine_spark.sources import catalog
from real_time_stream_processing_engine_spark.sources.readers import read_text_lines


def test_write_results_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    out = str(tmp_path / "res")
    write_results(df, out)
    back = spark.read.parquet(out)
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_write_results_rejects_unknown_format(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="format"):
        write_results(df, str(tmp_path / "x"), fmt="xml")


def test_provenance_sink_captures_lineage(spark, tmp_path):
    src = tmp_path / "in.txt"
    src.write_text("alpha\nbeta\n")
    lines = read_text_lines(spark, str(src))
    res, prov = str(tmp_path / "results"), str(tmp_path / "tuples")
    write_results_with_provenance(lines, res, prov)
    prov_df = spark.read.parquet(prov)
    assert set(prov_df.columns) == {"uid", "src_file", "line_id", "_processed_at"}
    assert prov_df.count() == 2
    # tuple ids unique — the dedup key the reference declared and never used
    assert prov_df.select("uid").distinct().count() == 2


def test_provenance_uids_match_results(spark, tmp_path):
    """The two sinks come from two jobs over one plan: the audit link
    holds only because uid is deterministic under re-evaluation."""
    src = tmp_path / "in2.txt"
    src.write_text("alpha\nbeta\ngamma\n")
    lines = read_text_lines(spark, str(src))
    res, prov = str(tmp_path / "results2"), str(tmp_path / "tuples2")
    write_results_with_provenance(lines, res, prov)
    res_uids = {r.uid for r in spark.read.parquet(res).select("uid").collect()}
    prov_uids = {r.uid for r in spark.read.parquet(prov).select("uid").collect()}
    assert res_uids == prov_uids and len(res_uids) == 3
    # and a fresh read of the same file reproduces the same ids
    again = {r.uid for r in read_text_lines(spark, str(src)).select("uid").collect()}
    assert again == res_uids


def test_streaming_file_sink_exactly_once(spark, tmp_path):
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("x\ny\n")
    stream = spark.readStream.text(str(src_dir))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_to_files(stream, out, ckpt, fmt="text")
    q.awaitTermination()
    assert spark.read.text(out).count() == 2
    # re-running the same drained stream replays nothing (batch ids in ckpt)
    q2 = stream_to_files(spark.readStream.text(str(src_dir)), out, ckpt, fmt="text")
    q2.awaitTermination()
    assert spark.read.text(out).count() == 2


def test_streaming_file_sink_replay_after_lost_commit(spark, tmp_path):
    """Crash after the sink committed batch 1 but before the commit log
    recorded it: the restart re-plans batch 1 from its offset log, and the
    sink's own metadata log must make the replayed batch a no-op."""
    import os

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("a1\na2\n")
    (src_dir / "b.txt").write_text("b1\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src_dir))
        q = stream_to_files(stream, out, ckpt, fmt="text")
        q.awaitTermination()
        return sorted(r.value for r in spark.read.text(out).collect())

    first = drain()
    assert first == ["a1", "a2", "b1"]
    commits = os.path.join(ckpt, "commits")
    assert sorted(os.listdir(os.path.join(ckpt, "offsets")))[-1] == "1"
    for name in ("1", ".1.crc"):  # the crash left neither behind
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    assert drain() == first
    assert os.path.exists(os.path.join(commits, "1"))


def test_catalog_create_is_first_write_wins(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "k int")
    p = str(tmp_path / "f")
    catalog.create(df, p)
    with pytest.raises(Exception):
        catalog.create(df, p)
    assert catalog.get(spark, p).count() == 1


def test_catalog_append_and_ls(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "k int")
    p = str(tmp_path / "f")
    catalog.create(df, p)
    catalog.append(df, p)
    assert catalog.get(spark, p).count() == 2
    listing = catalog.ls(spark, p)
    assert any(e["path"].endswith(".parquet") for e in listing)
    assert catalog.exists(spark, p)
    assert not catalog.exists(spark, str(tmp_path / "nope"))


def _swap_siblings(parent, name):
    import os

    return sorted(
        d for d in os.listdir(parent) if d.startswith(name + "__swap_")
    )


def test_replace_contents_leaves_no_swap_siblings(spark, tmp_path):
    p = str(tmp_path / "t")
    catalog.create(spark.createDataFrame([(1,)], "k int"), p)
    for v in (2, 3):
        catalog.replace_contents(spark.createDataFrame([(v,)], "k int"), p)
    assert [r.k for r in catalog.get(spark, p).collect()] == [3]
    assert _swap_siblings(tmp_path, "t") == []


def test_recover_swap_completes_interrupted_swap_forward(spark, tmp_path):
    """Crash between 'rename dst aside' and 'rename tmp in': the target
    is missing but the (old, tmp) pair holds both generations — recovery
    must finish FORWARD (new contents win; they are the committed
    batches the checkpoint already acknowledged)."""
    import os

    p = str(tmp_path / "t")
    catalog.create(spark.createDataFrame([("old",)], "v string"), p)
    tok = "deadbeef"
    spark.createDataFrame([("new",)], "v string").write.parquet(
        f"{p}__swap_tmp_{tok}"
    )
    os.rename(p, f"{p}__swap_old_{tok}")  # the crash window: dst missing
    assert not catalog.exists(spark, p)
    assert catalog.recover_swap(spark, p) is True
    assert [r.v for r in catalog.get(spark, p).collect()] == ["new"]
    assert _swap_siblings(tmp_path, "t") == []
    # idempotent: a second call is a no-op that still reports success
    assert catalog.recover_swap(spark, p) is True


def test_recover_swap_cleans_stale_scratch(spark, tmp_path):
    """Target intact: recovery keeps the target, drops leftover OLDs
    (unfinished step-4 delete of a completed swap), and — by default —
    LEAVES tmps alone: a tmp is indistinguishably a crashed write's
    orphan or a concurrent writer's IN-FLIGHT step-1, and deleting a
    live writer's tmp strands its step-3 rename (r9 review).
    drop_stale_tmps=True is the explicit no-concurrent-writer opt-in."""
    p = str(tmp_path / "t")
    catalog.create(spark.createDataFrame([(1,)], "k int"), p)
    spark.createDataFrame([(9,)], "k int").write.parquet(f"{p}__swap_tmp_ab")
    spark.createDataFrame([(8,)], "k int").write.parquet(f"{p}__swap_old_cd")
    assert catalog.recover_swap(spark, p) is True
    assert [r.k for r in catalog.get(spark, p).collect()] == [1]
    assert _swap_siblings(tmp_path, "t") == ["t__swap_tmp_ab"]
    assert catalog.recover_swap(spark, p, drop_stale_tmps=True) is True
    assert _swap_siblings(tmp_path, "t") == []


def test_recover_swap_fresh_path_reports_missing(spark, tmp_path):
    assert catalog.recover_swap(spark, str(tmp_path / "nope")) is False


def test_catalog_merge_compacts(spark, tmp_path):
    p = str(tmp_path / "f")
    df = spark.createDataFrame([(i,) for i in range(100)], "k int")
    catalog.create(df.repartition(10), p)
    n_before = len([e for e in catalog.ls(spark, p) if e["path"].endswith(".parquet")])
    catalog.merge(spark, p, target_files=1)
    n_after = len([e for e in catalog.ls(spark, p) if e["path"].endswith(".parquet")])
    assert n_before == 10 and n_after == 1
    got = sorted(r.k for r in catalog.get(spark, p).collect())
    assert got == list(range(100))


def test_training_shards_bound_file_geometry(spark, sf_dir, tmp_path):
    """write_training_shards pins BOTH file-geometry failure modes:
    no file exceeds maxRecordsPerFile, the file count stays near
    rows/max (no per-task dribble of tiny files), and re-reading
    preserves every row."""
    import os

    import pyarrow.parquet as pq

    from real_time_stream_processing_engine_spark.sinks.writers import (
        write_training_shards,
    )
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    n = ev.count()
    out = str(tmp_path / "shards")
    cap = 400
    write_training_shards(
        ev, out, shard_cols=["user_id"], order_cols=["event_id"],
        max_records_per_file=cap,
    )
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    counts = [pq.read_metadata(os.path.join(out, f)).num_rows for f in files]
    assert max(counts) <= cap
    # dribble guard: within 4x of the ideal file count
    assert len(files) <= 4 * (n // cap + 1)
    assert sum(counts) == n
    back = spark.read.parquet(out)
    assert back.count() == n
    # deterministic in-file order: events sorted by (user, event) per file
    first = pq.read_table(os.path.join(out, sorted(files)[0])).to_pydict()
    pairs = list(zip(first["user_id"], first["event_id"]))
    assert pairs == sorted(pairs)


# ---------------------------------------------------------------------------
# r5 review batch: merge-spec validation, paired-sink validation, reader
# strictness, mixed-unit and partitioned-layout part discovery.
# ---------------------------------------------------------------------------


def test_upsert_rejects_degenerate_merge_specs(spark):
    from real_time_stream_processing_engine_spark.operators.cdc import apply_upsert

    t = spark.createDataFrame([(1, "a", 0)], "k long, v string, op long")
    u = spark.createDataFrame([(1, "b")], "k long, nv string")
    with pytest.raises(ValueError, match="immutable"):
        apply_upsert(t.drop("op"), u, ["k"], {"k": "nv"})
    with pytest.raises(ValueError, match="BOTH"):
        apply_upsert(
            t.drop("op"), u, ["k"], {"v": "nv"}, insert_only_cols={"v": "nv"}
        )
    with pytest.raises(ValueError, match="op_col"):
        apply_upsert(t, u, ["k"], {"v": "nv"})  # target already has 'op'
    t2 = spark.createDataFrame([(1, "a", 1)], "k long, v string, _u_x long")
    with pytest.raises(ValueError, match="scratch"):
        apply_upsert(t2, u, ["k"], {"v": "nv"})


def test_provenance_pair_rejects_text_before_writing(spark, tmp_path):
    from real_time_stream_processing_engine_spark.sinks.writers import (
        write_results_with_provenance,
    )

    df = spark.createDataFrame([("x", "f", 1)], "uid string, src_file string, line_id long")
    res = str(tmp_path / "res")
    with pytest.raises(ValueError, match="text"):
        write_results_with_provenance(df.select("uid"), res, str(tmp_path / "prov"), fmt="text")
    import os as _os

    assert not _os.path.exists(res)  # nothing committed before the check


def test_stream_to_files_validates_format(spark, tmp_path):
    from real_time_stream_processing_engine_spark.sinks.writers import stream_to_files

    src = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="format"):
        stream_to_files(src, str(tmp_path / "o"), str(tmp_path / "c"), fmt="xml")


def test_load_table_refuses_unknown_names(spark, sf_dir):
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    with pytest.raises(KeyError, match="explicit schema"):
        load_table(spark, sf_dir, "sessions")


def test_ts_unit_sniff_rejects_mixed_units_and_walks_partitions(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_stream_processing_engine_spark.sources.fsmeta import (
        list_part_files,
    )
    from real_time_stream_processing_engine_spark.sources.readers import (
        parquet_ts_unit,
    )

    # mixed units across parts -> loud refusal
    mixed = tmp_path / "mixed.parquet"
    mixed.mkdir()
    t_us = pa.table({"ts": pa.array([1_000_000], pa.timestamp("us"))})
    t_ns = pa.table({"ts": pa.array([1_000_000_000], pa.timestamp("ns"))})
    pq.write_table(t_us, str(mixed / "part-00.parquet"))
    pq.write_table(t_ns, str(mixed / "part-01.parquet"))
    with pytest.raises(ValueError, match="MIXED"):
        parquet_ts_unit(str(mixed), "ts")
    # hive-partitioned layout: parts live one level down
    part = tmp_path / "part.parquet"
    (part / "k=a").mkdir(parents=True)
    pq.write_table(t_us, str(part / "k=a" / "part-00.parquet"))
    assert len(list_part_files(str(part))) == 1
    assert parquet_ts_unit(str(part), "ts") == "us"


def test_catalog_merge_refuses_nested_layout(spark, tmp_path):
    """Spark's default reader sees only top-level files under a
    non-partitioned dir, so compacting a nested drop-zone would
    rewrite the table from the top slice and DELETE the nested
    batches (r8 review) — refused up front."""
    import pytest

    p = str(tmp_path / "drop")
    spark.createDataFrame([(1,)], "k int").write.parquet(f"{p}/batch1")
    spark.createDataFrame([(2,)], "k int").write.parquet(f"{p}/batch2")
    with pytest.raises(ValueError, match="nested"):
        catalog.merge(spark, p)
    # the data is untouched by the refusal
    got = sorted(
        r.k
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(p)
        .collect()
    )
    assert got == [1, 2]
