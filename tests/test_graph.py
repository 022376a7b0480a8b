"""Connected-components semantics on literal graphs (q56 pins the
LSH-pair pipeline against the recursive-CTE oracle), plus the other
graph operators."""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq
import pytest

from real_time_stream_processing_engine_spark.operators.graph import (
    connected_components,
)
from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES

from .oracle import compare, duck_connection


def _clusters(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.cluster_id, set()).add(r.node)
    return {min(v): v for v in out.values()}


def test_chain_collapses_transitively(spark):
    # A~B, B~C, C~D: one component although A~C, A~D never emitted
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = _clusters(connected_components(edges))
    assert got == {1: {1, 2, 3, 4}, 10: {10, 11}}


def test_cluster_id_is_min_member(spark):
    edges = spark.createDataFrame([(7, 3), (3, 9), (20, 15)], "doc_a long, doc_b long")
    rows = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert rows == {3: 3, 7: 3, 9: 3, 15: 15, 20: 15}


def test_long_chain_converges_within_diameter(spark):
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    rows = {r.node: r.cluster_id for r in connected_components(edges, max_iter=n + 1).collect()}
    assert set(rows.values()) == {0}


def test_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=2)


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


# ---------------------------------------------------------------------------
# reference: a pure-Python union-find on the same edge lists
# ---------------------------------------------------------------------------


def _union_find(pairs):
    """{node: min node of its component} for an undirected edge list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_rows(spark, pairs):
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {r.node: r.cluster_id for r in connected_components(edges).collect()}


def test_cc_matches_union_find_on_random_graphs(spark):
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
        pairs = [(a, b) for a, b in pairs if a != b]
        assert _cc_rows(spark, pairs) == _union_find(pairs), f"seed {seed}"


_DEGENERATE = {
    "empty": [],
    "self_loops_only": [(5, 5), (7, 7), (5, 5)],
    "duplicate_edges": [(1, 2), (1, 2), (2, 1), (3, 4), (3, 4)],
    # the hub is the LARGEST id, so leaf 1's label must reach every
    # other leaf through the hub
    "hub_200_leaves": [(1000, i) for i in range(1, 201)],
    "two_node_and_preclustered": [(5, 9), (1, 2), (2, 3), (1, 3)],
}


@pytest.mark.parametrize("case", sorted(_DEGENERATE))
def test_cc_matches_union_find_on_degenerate_inputs(spark, case):
    pairs = _DEGENERATE[case]
    assert _cc_rows(spark, pairs) == _union_find(pairs)


def test_cc_single_upstream_pass(spark):
    """r6 perf regression pin (1.4x on the LSH pairs at sf0.1): the
    caller's edge pipeline must run ONCE — both symmetric legs and the
    self-loop node come from one materialization, so upstream rows are
    seen exactly once."""
    raw = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 5), (7, 8)], "src long, dst long"
    )
    calls = spark.sparkContext.accumulator(0)

    def counting(pdfs):
        for pdf in pdfs:
            calls.add(len(pdf))
            yield pdf

    edges = raw.repartition(2).mapInPandas(counting, raw.schema)
    out = {
        (r.node, r.cluster_id)
        for r in connected_components(edges, src="src", dst="dst").collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (5, 5), (7, 7), (8, 7)}
    assert calls.value == 4, f"upstream executed {calls.value / 4}x"


def test_q56_empty_documents_matches_oracle(spark, sf_dir, tmp_path):
    """No documents, no pairs, no clusters: q56 must return zero rows
    like its recursive-CTE oracle over an empty table."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(docs.slice(0, 0), str(tmp_path / "documents.parquet"))
    df = QUERIES["q56_dedup_components"](spark, str(tmp_path))
    con = duck_connection(str(tmp_path))
    try:
        result = compare(df, con, ORACLE["q56_dedup_components"])
    finally:
        con.close()
    assert result["rows_spark"] == 0
    assert result["ok"], result


# ---------------------------------------------------------------------------
# fixpoint HA: reliable checkpoints + kill/restart resume (r3-verdict item)
# ---------------------------------------------------------------------------


def _chain(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )


def test_reliable_checkpoint_same_answer(spark, tmp_path):
    """checkpoint_dir: every K-th lineage cut goes to reliable storage;
    the answer is unchanged and checkpoint files actually land."""
    import os

    ckpt = str(tmp_path / "ckpt")
    edges = _chain(spark, 12)
    plain = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    ha = {
        r.node: r.cluster_id
        for r in connected_components(
            edges, checkpoint_dir=ckpt, checkpoint_every=2, max_iter=15
        ).collect()
    }
    assert ha == plain
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no reliable checkpoint files written"


def test_propagation_kill_restart_resumes_and_matches(spark, tmp_path):
    """Driver crash mid-fixpoint (injected after the first state save),
    restart with the same state_dir: the loop must RESUME from the
    saved labels — fewer rounds than a clean run — and the labels must
    equal the uninterrupted answer exactly."""
    state = str(tmp_path / "cc_state")
    edges = _chain(spark, 14)
    clean = {
        r.node: r.cluster_id
        for r in connected_components(edges, max_iter=20).collect()
    }
    clean_rounds = connected_components.rounds
    with pytest.raises(RuntimeError, match="injected driver crash"):
        connected_components(
            edges, max_iter=20, state_dir=state, save_every=2, _fail_after_saves=2
        )
    got = {
        r.node: r.cluster_id
        for r in connected_components(
            edges, max_iter=20, state_dir=state, save_every=2
        ).collect()
    }
    assert connected_components.resumed is True
    assert connected_components.rounds < clean_rounds
    assert got == clean
    # completed run cleared its state: a fresh call does NOT resume
    connected_components(edges, max_iter=20, state_dir=state)
    assert connected_components.resumed is False


def test_pagerank_uniform_on_cycle(spark):
    """On a directed cycle every node keeps exactly 1/N at every
    round — the closed-form fixed point."""
    from real_time_stream_processing_engine_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src: string, dst: string"
    )
    out = {r["node"]: r["pr"] for r in pagerank(e, iters=3).collect()}
    for v in out.values():
        assert abs(v - 1.0 / 3.0) < 1e-12


def test_pagerank_star_center_dominates(spark):
    """Symmetrized star: the hub must out-rank every leaf, and one
    round of hand-arithmetic pins the exact values: each leaf sends its
    whole 0.2 (out-degree 1) to the hub, the hub splits its 0.2 four
    ways — hub = 0.15/5 + 0.85*(4*0.2), leaf = 0.15/5 + 0.85*(0.2/4)."""
    from real_time_stream_processing_engine_spark.operators.graph import pagerank

    spokes = [("hub", f"l{i}") for i in range(4)]
    e0 = spokes + [(b, a) for a, b in spokes]
    e = spark.createDataFrame(e0, "src: string, dst: string")
    out = {r["node"]: r["pr"] for r in pagerank(e, iters=1).collect()}
    assert abs(out["hub"] - (0.03 + 0.85 * 0.8)) < 1e-12
    for i in range(4):
        assert abs(out[f"l{i}"] - (0.03 + 0.85 * 0.2 / 4)) < 1e-12
    assert out["hub"] > max(out[f"l{i}"] for i in range(4))


def test_pagerank_conserves_mass_on_closed_graph(spark, sf_dir):
    """With every node having out-degree >= 1 (symmetrized edges), the
    total rank mass stays 1 after any number of rounds."""
    from pyspark.sql import functions as F

    from real_time_stream_processing_engine_spark.operators.graph import pagerank
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    e = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    total = pagerank(e, iters=2).agg(F.sum("pr")).head()[0]
    assert abs(total - 1.0) < 1e-9


def test_cc_self_loop_node_and_kcore_checkpoint_dir(spark, tmp_path):
    """r5 review: (a) a node whose only edge is a self-loop must emit
    (node, node); (b) kcore(checkpoint_dir=...) must actually set the
    checkpoint dir (it crashed in a fresh session)."""
    from real_time_stream_processing_engine_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r.node, r.cluster_id) for r in connected_components(edges).collect()
    }
    assert got == {(5, 5), (1, 1), (2, 1), (3, 1)}
    # kcore with a reliable checkpoint dir in this session
    e2 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    got = {
        r.v
        for r in kcore(
            e2, k=2, rounds=3, checkpoint_dir=str(tmp_path / "kc"), checkpoint_every=1
        ).collect()
    }
    assert got == {1, 2, 3}  # the triangle survives, the pendant drops
