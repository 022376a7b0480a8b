"""Pins for the round-12 optimization changes to operator internals.

Two operators changed internals this round (results unchanged, pinned
by the existing suites + oracle runs):

- ``bpe_learn`` takes a lazy lineage cut per merge round, so round k
  no longer replays the k-1 earlier folds and the plan stays depth-1.
- ``connected_components`` adds pointer jumping (path compression):
  each round a node also adopts its candidate label's own label, so
  deep chains converge in O(log diameter) rounds instead of
  O(diameter).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.operators.bpe import bpe_learn
from real_time_stream_processing_engine_spark.operators.graph import (
    connected_components,
)


def test_cc_pointer_jumping_is_sublinear_on_deep_chain(spark):
    """A 64-edge chain converged in 64 rounds under plain min-label
    propagation; pointer jumping must close it in O(log n) — the
    r12 optimization this pin protects from regressing."""
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    rows = {
        r.node: r.cluster_id
        for r in connected_components(edges, max_iter=15).collect()
    }
    assert set(rows.values()) == {0}
    assert len(rows) == n + 1
    assert connected_components.rounds <= 10


def test_cc_pointer_jumping_exact_on_branchy_graph(spark):
    """Fixpoint labels must still be the component minimum on a graph
    mixing chains, stars and singleton-joining bridges."""
    edges = [
        # component A: star at 10 + tail
        (10, 11), (10, 12), (10, 13), (13, 14), (14, 15),
        # component B: chain with a bridge joining two halves late
        (20, 21), (21, 22), (23, 24), (24, 25), (22, 23),
        # component C: single edge
        (30, 31),
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.cluster_id for r in connected_components(df).collect()
    }
    want = {
        **{v: 10 for v in (10, 11, 12, 13, 14, 15)},
        **{v: 20 for v in (20, 21, 22, 23, 24, 25)},
        **{v: 30 for v in (30, 31)},
    }
    assert got == want


def test_bpe_learn_plan_depth_constant_across_rounds(spark):
    """The per-round lineage cut must keep the vocab plan flat: after
    any number of merge rounds the final vocab reads from a
    checkpointed RDD scan (one fold deep at most), never a chain of
    k nested folds — the O(R²) replay the r12 optimization removed."""
    words = spark.createDataFrame(
        [("lowest", 5), ("newest", 6), ("widest", 3)], "word string, w long"
    )
    merges, vocab = bpe_learn(words, n_merges=4)
    assert len(merges) == 4
    plan = vocab._jdf.queryExecution().optimizedPlan().toString()
    # a checkpointed plan surfaces as a LogicalRDD scan; the pre-fix
    # plan nested one `aggregate(...)` lambda per learned merge
    assert "LogicalRDD" in plan
    assert plan.count("aggregate(") == 0
    # and the learned merges themselves are unchanged by the cut
    assert [(a, b) for a, b, _ in merges][:2] == [("e", "s"), ("es", "t")]


def test_bpe_learn_matches_unbatched_reference(spark):
    """Classic worked example still learns the same table with the
    checkpointed loop (end-to-end result identity for the changed
    internals)."""
    words = spark.createDataFrame(
        [("hug", 10), ("pug", 5), ("pun", 12), ("bun", 4), ("hugs", 5)],
        "word string, w long",
    )
    merges, vocab = bpe_learn(words, n_merges=3)
    assert [(a, b) for a, b, _ in merges] == [("u", "g"), ("u", "n"), ("h", "ug")]
    final = {r.word: list(r.syms) for r in vocab.collect()}
    assert final["hug"] == ["hug"]
    assert final["hugs"] == ["hug", "s"]
    assert final["pun"] == ["p", "un"]


def test_fan_out_repartitions_single_file_scan(spark, sf_dir):
    """A single-row-group local parquet scan yields one split; fan_out
    must widen it to the session's default parallelism so scan-side
    CPU work (shingle hashing, simhash md5) uses every core."""
    from real_time_stream_processing_engine_spark.functions.partitioning import (
        fan_out,
    )
    from real_time_stream_processing_engine_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = fan_out(docs)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    # the explicit numbered round-robin repartition (shuffle=true) is
    # AQE-coalesce-exempt
    assert (
        f"Repartition {target}, true"
        in out._jdf.queryExecution().logical().toString()
    )
    # results are placement-independent: same rows either way
    assert out.count() == docs.count()


def test_fan_out_noop_when_already_parallel(spark):
    """fan_out must not add an exchange when the source already has
    >= defaultParallelism files (the 100 TB case) or no file index."""
    from real_time_stream_processing_engine_spark.functions.partitioning import (
        fan_out,
    )

    df = spark.range(1000).repartition(64)  # no file source -> inputFiles []
    assert fan_out(df) is df


def test_pandas_parallelism_half_cores_and_env(spark):
    from real_time_stream_processing_engine_spark.functions.partitioning import (
        pandas_parallelism,
    )

    df = spark.range(10)
    want = max(1, spark.sparkContext.defaultParallelism // 2)
    assert pandas_parallelism(df) == want


def test_star_cc_converges_without_confirmation_round(spark):
    """The star-set convergence check must detect the fixpoint on the
    round that PRODUCES it (the r7 fingerprint compare needed one more
    round to observe set equality), and the labels stay the component
    minimum."""
    from real_time_stream_processing_engine_spark.operators.graph import (
        connected_components_star,
    )

    # a star is the fixpoint after ONE round here
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        r.node: r.cluster_id
        for r in connected_components_star(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    assert connected_components_star.rounds <= 2

    # deep chain still collapses to the global minimum, logarithmically
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "doc_a long, doc_b long"
    )
    got = {
        r.node: r.cluster_id
        for r in connected_components_star(chain, max_iter=12).collect()
    }
    assert set(got.values()) == {0} and len(got) == 33


def test_lit_double_array_bit_identical(spark):
    """lit_double_array (one parsed expression, r12 opt: the Column-API
    comprehension cost 1+ py4j round trips PER ELEMENT) must produce
    bit-identical doubles to F.lit(float(v)) for every value class,
    including the ones repr() spells specially."""
    import math

    from pyspark.sql import functions as F

    from real_time_stream_processing_engine_spark.functions.vectors import (
        lit_double_array,
    )

    vals = [
        0.0, -0.0, 1.0, -1.0, 0.1, 1 / 3, 1e-300, 5e-324, 1.7976931348623157e308,
        123456789.123456789, -2.5e-10, math.pi, float("inf"), float("-inf"),
        float("nan"),
    ]
    row = (
        spark.range(1)
        .select(
            lit_double_array(vals).alias("got"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("want"),
        )
        .head()
    )
    import struct

    for g, w, v in zip(row.got, row.want, vals):
        gb, wb = struct.pack("<d", g), struct.pack("<d", w)
        assert gb == wb, f"{v}: {g!r} != {w!r} (bits differ)"

    # empty list keeps the array<double> type the Column form produced
    t = (
        spark.range(1)
        .select(lit_double_array([]).alias("e"))
        .schema["e"].dataType.simpleString()
    )
    assert t == "array<double>"


def test_extra_conf_env_passthrough_parsing(spark, monkeypatch):
    """SPARK_GRAFT_EXTRA_CONF: malformed entries fail loudly BEFORE any
    conf is applied; well-formed pairs reach the builder (observable on
    the live session via a run-time-settable key)."""
    import pytest

    from real_time_stream_processing_engine_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "not-a-pair")
    with pytest.raises(ValueError, match="not k=v"):
        get_spark(app_name="extra-conf-test")

    # a run-time-settable SQL conf proves the pair flows through
    # (getOrCreate returns the existing session and applies SQL confs)
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        " spark.sql.cbo.enabled = true ;",  # whitespace + trailing ;
    )
    s = get_spark(app_name="extra-conf-test")
    assert s.conf.get("spark.sql.cbo.enabled") == "true"
    s.conf.unset("spark.sql.cbo.enabled")
