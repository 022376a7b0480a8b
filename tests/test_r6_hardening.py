"""Round-6 hardening regressions for the r5 ADVICE findings.

Each test pins one of the four advice items: spark-submit master
resolution, hive-partitioned stream staging, the bm25 empty-sidecar
fallback, and the p90/p10 zero-divisor guard.
"""

from __future__ import annotations

import os

import pytest


def test_resolve_master_policy():
    """ADVICE r5 (session.py): probing SparkConf() pre-JVM always said
    "not spark-submit" and forced local, clobbering --master.  The
    policy is now pure and keyed on PYSPARK_GATEWAY_PORT (set by
    PythonRunner in spark-submit-launched drivers)."""
    from real_time_stream_processing_engine_spark.session import resolve_master

    # explicit arg always wins
    assert resolve_master("yarn", env={"PYSPARK_GATEWAY_PORT": "5"}) == "yarn"
    # env URL next
    assert (
        resolve_master(None, env={"SPARK_MASTER_URL": "spark://h:7077"})
        == "spark://h:7077"
    )
    # spark-submit (gateway env present): leave master unset so the
    # gateway's pre-set spark.master wins
    assert resolve_master(None, env={"PYSPARK_GATEWAY_PORT": "5"}) is None
    # plain python process: local default, sized by SPARK_GRAFT_CPUS
    assert resolve_master(None, env={}) == "local[*]"
    assert resolve_master(None, env={"SPARK_GRAFT_CPUS": "8"}) == "local[8]"


def test_expand_links_nested_dirs_no_collision(tmp_path):
    """ADVICE r5 (streaming/runner.py): basename-keyed links silently
    dropped all-but-one part when nested subdirectories repeat the
    same part filename (the drop-zone layout)."""
    from real_time_stream_processing_engine_spark.streaming.runner import (
        _expand_links,
    )

    root = tmp_path / "drops"
    for k in ("batch1", "batch2", "batch3"):
        (root / k).mkdir(parents=True)
        # identical basename in every subdirectory — the real layout
        # repeated single-job INSERTs produce
        (root / k / "part-00000-abc.c000.parquet").write_bytes(b"x")
    links = _expand_links("events", str(root))
    assert len(links) == 3, links
    assert sorted(links.values()) == sorted(
        str(root / k / "part-00000-abc.c000.parquet")
        for k in ("batch1", "batch2", "batch3")
    )
    # link names stay filesystem-safe (no separators) and unique
    assert all(os.sep not in name for name in links)


def test_expand_links_refuses_hive_layout(tmp_path):
    """r6 review catch: a flattened symlink dir cannot represent
    key=value directory names, so staging a hive layout would stream
    rows WITHOUT the partition columns the batch reader resolves —
    refuse loudly instead (same contract as catalog.merge_table)."""
    import pytest

    from real_time_stream_processing_engine_spark.streaming.runner import (
        _expand_links,
    )

    root = tmp_path / "hive"
    for k in ("city=NY", "city=SF"):
        (root / k).mkdir(parents=True)
        (root / k / "part-00000-abc.c000.parquet").write_bytes(b"x")
    with pytest.raises(RuntimeError, match="hive-partitioned"):
        _expand_links("events", str(root))


def test_expand_links_flat_dir_unchanged(tmp_path):
    from real_time_stream_processing_engine_spark.streaming.runner import (
        _expand_links,
    )

    root = tmp_path / "flat"
    root.mkdir()
    for i in range(2):
        (root / f"part-0000{i}.parquet").write_bytes(b"x")
    links = _expand_links("t", str(root))
    assert len(links) == 2
    single = tmp_path / "single.parquet"
    single.write_bytes(b"x")
    assert _expand_links("t", str(single)) == {"t.parquet": str(single)}


def test_redelivery_dir_lives_and_dies_with_its_drain(tmp_path, monkeypatch):
    """The redelivery staging dir is removed when its drain ends, on
    the crash path too; a resume from the same checkpoint stages the
    same link paths; a foreign entry in the dir, or a link squatting
    its name, refuses and is left alone (scratch is world-writable)."""
    from real_time_stream_processing_engine_spark.streaming.runner import (
        _redelivery_dir,
    )

    from .conftest import SF_SMOKE

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    src = os.path.join(SF_SMOKE, "events.parquet")
    ck = str(tmp_path / "ck")
    with _redelivery_dir("t", src, ck) as d:
        assert sorted(os.listdir(d)) == ["events_a.parquet", "events_b.parquet"]
    assert not os.path.exists(d)
    with pytest.raises(ValueError):
        with _redelivery_dir("t", src, ck + "/") as again:
            assert again == d
            raise ValueError("drain crashed")
    assert not os.path.exists(d)
    with _redelivery_dir("t", src, None) as fresh:
        assert fresh != d
    os.makedirs(d)
    with open(os.path.join(d, "x.parquet"), "wb") as fh:
        fh.write(b"x")
    with pytest.raises(RuntimeError, match="unexpected entries"):
        with _redelivery_dir("t", src, ck):
            pass
    assert os.path.exists(os.path.join(d, "x.parquet"))
    # so does the dir's name squatted by a link to somewhere else
    os.rename(d, tmp_path / "elsewhere")
    os.symlink(tmp_path / "elsewhere", d)
    with pytest.raises(RuntimeError, match="not a directory this user owns"):
        with _redelivery_dir("t", src, ck):
            pass


def test_bm25_indexed_empty_sidecar_falls_back_to_args(spark, tmp_path):
    """ADVICE r5 (text.py): a probe_params directory that exists but
    holds no rows (interrupted write) made .head() return None and the
    unpack raise AttributeError; it must fall back to the legacy
    n_shards/seed arguments like a missing sidecar does."""
    from real_time_stream_processing_engine_spark.operators.text import (
        bm25_topk,
        bm25_topk_indexed,
        build_bm25_index,
    )

    docs = spark.createDataFrame(
        [(i, f"term{i % 5} shared filler w{i}") for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25e")
    build_bm25_index(docs, path, n_shards=8, seed="s8")
    # simulate the interrupted write: same schema, zero rows
    pp = spark.read.parquet(f"{path}/probe_params")
    spark.createDataFrame([], pp.schema).write.mode("overwrite").parquet(
        f"{path}/probe_params"
    )
    want = [(r.doc_id, r.bm25) for r in bm25_topk(docs, ["term3", "shared"], k=5).collect()]
    got = [
        (r.doc_id, r.bm25)
        for r in bm25_topk_indexed(
            spark, path, ["term3", "shared"], k=5, n_shards=8, seed="s8"
        ).collect()
    ]
    assert got == want and want


def test_oracle_compare_positional_on_duplicate_columns(spark, tmp_path):
    """r6 review catch: arrow to_pylist() row-dicts collapse duplicate
    output column names; the harness must extract positionally so a
    duplicate-named oracle projection still compares value-for-value."""
    import duckdb

    from .oracle import compare

    con = duckdb.connect()
    ok = compare(spark.sql("SELECT 1 AS a, 2 AS a"), con, "SELECT 1 AS a, 2 AS a")
    assert ok["ok"], ok
    bad = compare(spark.sql("SELECT 1 AS a, 2 AS a"), con, "SELECT 1 AS a, 1 AS a")
    assert not bad["ok"], bad
    con.close()


def test_quantile_crossings_zero_p10_yields_null_ratio(spark):
    """ADVICE r5 (stats.py): value domains including 0 must produce a
    NULL ratio (explicit NULLIF), never an ANSI-mode error."""
    from real_time_stream_processing_engine_spark.operators.stats import (
        grouped_quantile_crossings,
    )

    rows = spark.createDataFrame(
        [("g", v) for v in [0] * 5 + list(range(1, 6))], "g string, v long"
    )
    out = grouped_quantile_crossings(rows, "g", "v").collect()
    assert len(out) == 1
    r = out[0]
    # p90 = min v with 10*cum >= 9*n: cum(4) = 9 of n=10 -> 90 >= 90
    assert r.p10 == 0 and r.p90 == 4
    assert r.p90_p10_permille is None
