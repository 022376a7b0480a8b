"""Iterative graph operators: connected components for dedup clustering.

Pairwise near-dup output (LSH/SimHash/Jaccard pairs) is not yet a dedup
decision: A~B and B~C must collapse into ONE cluster even when A~C was
never emitted.  That is connected components over the pair graph — the
one genuinely ITERATIVE algorithm in the training-data pipeline, so it
exercises the pattern Spark needs for any fixpoint computation:

- a driver loop over DataFrame joins (the data never collects);
- ``localCheckpoint()`` each iteration to truncate lineage — without it
  the plan doubles per iteration and analysis time explodes;
- a cheap distributed convergence check (count of changed labels).

Min-label propagation with pointer jumping converges in O(log
diameter) iterations: each round a node takes the minimum of its
neighbors' labels AND its candidate label's own label, so label chains
halve per round (a 64-node chain closes in <= 10 rounds).  Near-dup
components are shallow (dozens of docs, diameter a few hops), so 3-7
iterations is typical.

High-availability posture (the r3-verdict flag): ``localCheckpoint``
stores blocks on executors, so an executor loss mid-fixpoint kills the
job at hour 9 of 10 at real scale.  Two opt-in levers, both off for
cheap local runs:

- ``checkpoint_dir=``: every ``checkpoint_every`` rounds the frame is
  RELIABLY checkpointed (``setCheckpointDir`` + ``checkpoint()``,
  HDFS/S3-backed) — an executor loss replays at most K-1 rounds from
  the last durable cut instead of failing the job.
- ``state_dir=``: every ``save_every`` rounds the loop state is written
  as a parquet table (atomic swap, ``catalog.replace_contents``) and a
  RESTARTED call with the same ``state_dir`` resumes from it — driver
  loss included.  This is sound because the per-round state is a valid
  restart point at ANY round: labels only move down toward the
  component minimum, so resuming from a saved round converges to the
  exact same fixpoint.  A completed run deletes its state so a
  later fresh call cannot resume a stale graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _round_persist(
    df: DataFrame, it: int, checkpoint_dir: str | None, checkpoint_every: int
) -> DataFrame:
    """Lineage cut for one fixpoint round: lazy (the convergence count
    materializes it, keeping one job per round) — reliable every K
    rounds when a checkpoint_dir is set, executor-local otherwise."""
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    if checkpoint_dir is not None and it % checkpoint_every == 0:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def _state_io(spark: SparkSession, state_dir: str | None):
    """(load, save, clear) for the resumable per-round labels parquet."""
    from ..sources.catalog import exists, replace_contents

    path = None if state_dir is None else f"{state_dir.rstrip('/')}/labels"

    def load() -> DataFrame | None:
        if path is None or not exists(spark, path):
            return None
        return spark.read.parquet(path)

    def save(df: DataFrame) -> None:
        if path is not None:
            replace_contents(df, path)

    def clear() -> None:
        if path is not None and exists(spark, path):
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)

    return load, save, clear


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 3,
    state_dir: str | None = None,
    save_every: int = 2,
    _fail_after_saves: int | None = None,
) -> DataFrame:
    """(node, cluster_id) for every node in ``edges``; ``cluster_id`` is
    the minimum node id reachable in the undirected pair graph —
    deterministic, so two runs (and a SQL oracle's recursive closure)
    agree exactly.

    Each iteration: every node adopts the min of its own label and its
    neighbors' labels (one join + one partial-aggregated groupBy), then
    jumps to its candidate label's own label, then a count of changed
    labels decides convergence.  Rounds grow with log(diameter).
    Raises if the graph hasn't converged after ``max_iter`` rounds (a
    component that deep means something is wrong with the pair
    generator, not the loop).

    HA levers (module docstring): ``checkpoint_dir`` makes every K-th
    lineage cut reliable; ``state_dir`` persists labels every
    ``save_every`` rounds and RESUMES from them on restart (valid at
    any round: labels only move down toward the component minimum).
    ``_fail_after_saves`` is the crash-injection hook for the recovery
    test, mirroring ``stream_cdc_upsert(fail_after_batches=)``."""
    if save_every < 1:
        raise ValueError(f"save_every must be >= 1, got {save_every}")
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    load, save, clear = _state_io(spark, state_dir)
    # both symmetric legs read ONE lazy cut of the projected edges, so
    # the caller's edge pipeline runs once, not once per leg; sym is
    # cut too, so each round's join scans one frame, not a union
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=False
    )
    sym = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint()
    labels = load()
    resumed = labels is not None
    if not resumed:
        # seed with round 1 fused in: label = min(self, direct
        # neighbors) — one aggregate instead of a full loop iteration
        labels = (
            sym.groupBy("s")
            .agg(F.min("d").alias("_m"))
            .select(F.col("s").alias("node"), F.least("s", "_m").alias("label"))
            .localCheckpoint()
        )
    n_saves = 0
    for it in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("label").alias("nbr_min"))
        )
        # the changed flag rides the update itself (a label changes iff
        # the round's final label beats the old one), so convergence
        # costs one narrow count over the checkpointed frame — not a
        # second join job.  LAZY lineage cut: the convergence count
        # below is the job that materializes it, so each round runs
        # ONE job, not two.
        cand = labels.join(
            nbr_min, labels["node"] == nbr_min["s"], "left"
        ).select(
            "node",
            F.col("label").alias("_old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("_cand"),
        )
        # POINTER JUMPING (path compression, r12 optimization): each
        # node additionally adopts its candidate label's OWN label —
        # label chains halve per round, so convergence needs
        # O(log diameter) passes over the (large) edge table instead
        # of O(diameter).  Sound for the same reason the resume path
        # is: every label value is a node id inside the component and
        # labels only move down toward the component minimum, so the
        # fixpoint (for every edge both endpoints agree, and every
        # label is self-labelled) is exactly the component-minimum
        # labelling.  Cost: one extra |V|-sized join per round against
        # a saved pass over the |E|-sized sym table per round removed.
        lbl2 = labels.select(
            F.col("node").alias("_cn"), F.col("label").alias("_cl")
        )
        new_labels = _round_persist(
            cand.join(lbl2, cand["_cand"] == lbl2["_cn"], "left")
            .select(
                "node",
                F.least(
                    F.col("_cand"), F.coalesce(F.col("_cl"), F.col("_cand"))
                ).alias("label"),
                (
                    F.least(
                        F.col("_cand"),
                        F.coalesce(F.col("_cl"), F.col("_cand")),
                    )
                    < F.col("_old")
                ).alias("_changed"),
            ),
            it,
            checkpoint_dir,
            checkpoint_every,
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            connected_components.rounds = it + 1
            connected_components.resumed = resumed
            clear()  # a completed run must not seed a later stale resume
            return labels.select(F.col("node"), F.col("label").alias("cluster_id"))
        if state_dir is not None and it % save_every == 0:
            save(labels.select("node", "label"))
            n_saves += 1
            if _fail_after_saves is not None and n_saves >= _fail_after_saves:
                raise RuntimeError("injected driver crash (_fail_after_saves)")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        "(component diameter exceeds max_iter)"
    )


def pagerank(
    edges: DataFrame,
    iters: int = 2,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list — the weighted-importance
    fixpoint, complementing the components fixpoint above (label
    propagation spreads MIN; this spreads normalized MASS).

    Per round: contributions = ranks join edges on src (rank/out-degree
    rides each edge), then ONE partial-aggregated groupBy(dst) sum —
    the standard two-exchange PageRank step, linear in |E|.  The node
    count enters as a broadcast 1-row aggregate (no driver round-trip
    for data); with no dangling handling required here (callers pass
    symmetrized or closed edge sets, every node has out-degree >= 1).
    For deep runs, wrap with the same ``checkpoint_dir``/lazy
    localCheckpoint levers as :func:`connected_components`; at 2-4
    rounds the lineage is shallow enough not to need them.

    Determinism: mass sums are doubles; callers round before ordering
    (the q106 oracle replays both rounds in SQL and compares ROUNDED
    ranks, same contract as the k-means oracle)."""
    # one lazy cut on the caller's edge pipeline: edges feeds nodes
    # (twice), deg, and every iteration's contribution join — without
    # the cut an expensive upstream (q106's edge build) re-executes
    # ~2+4·iters times (r7 review; the r6 single-upstream-pass rule
    # connected_components and the triangle census already follow)
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    n = nodes.agg(F.count("*").cast("double").alias("n_nodes"))
    deg = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges[src_col] == ranks["node"])
            .join(deg, ranks["node"] == deg["node"])
            .select(
                F.col(dst_col).alias("to"),
                (F.col("pr") / F.col("out_deg")).alias("w"),
            )
        )
        inflow = contribs.groupBy("to").agg(F.sum("w").alias("mass"))
        ranks = (
            nodes.join(inflow, nodes["node"] == inflow["to"], "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.coalesce("mass", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(node, core_degree) after ``rounds`` of k-core peeling: each
    round drops every vertex with degree < k in the surviving subgraph
    (and the edges touching it), the standard densest-region filter
    that strips the long degree-1/2 tails off co-occurrence graphs
    before expensive downstream mining (triangles, communities).

    The ROUND COUNT is part of the declared semantics — like the
    k-means/PageRank oracles, a SQL oracle replays exactly ``rounds``
    peels, and converged rounds are no-ops, so any ``rounds`` at or
    past convergence yields the true k-core (callers pin convergence
    for their data in tests; q203 converges in 4 at sf0.01).  Each
    round is one partial-aggregated degree count + two hash semi
    joins — linear in |E|, no global structure — and takes a lineage
    cut via the shared ``_round_persist`` levers (reliable
    ``checkpoint_dir`` every K rounds for deep peels at scale).

    SIMPLE-GRAPH CONTRACT (r7 advice): the input is treated as an
    undirected simple graph — edges are canonicalized to (min, max),
    DEDUPLICATED, and self-loops dropped before the first degree
    count.  A weighted/multigraph edge list therefore contributes
    each neighbor ONCE to degree, regardless of multiplicity; callers
    needing multiplicity-weighted peeling must pre-aggregate weights
    into an explicit column and use a weighted-degree variant."""
    if checkpoint_dir is not None:
        # siblings set this too; without it df.checkpoint() raises
        # "Checkpoint directory has not been set" (r5 review catch)
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    # canonicalize like triangle_stats/adamic_adar: a symmetrized list
    # (both (a,b) and (b,a)) would double every degree and keep the
    # whole degree-1 tail the peel exists to strip, and a self-loop
    # alone counts as degree 2 and survives as a fake core node (r7
    # review — latent: q203 already passes canonical x<y pairs)
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("x"),
            F.greatest(src_col, dst_col).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    for it in range(rounds):
        keep = (
            e.select(F.col("x").alias("v"))
            .unionByName(e.select(F.col("y").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("v")
        )
        e = e.join(
            keep.withColumnRenamed("v", "x"), "x", "left_semi"
        ).join(keep.withColumnRenamed("v", "y"), "y", "left_semi")
        e = _round_persist(e, it, checkpoint_dir, checkpoint_every)
    return (
        e.select(F.col("x").alias("v"))
        .unionByName(e.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("core_degree"))
    )


def triangle_stats(
    edges: DataFrame,
    src_col: str = "u",
    dst_col: str = "v",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Global triangle census over an undirected edge list — one row
    ``(n_nodes, n_edges, n_wedges, n_triangles, clustering_ppm)``.
    Triangle density is the standard community-structure probe run on
    co-occurrence graphs after :func:`kcore` peeling.

    The naive wedge join costs Σ deg² — a single celebrity node makes
    that quadratic.  This is the DEGREE-ORDERED orientation (Chiba–
    Nishizeki / the MapReduce form in Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer"): orient every edge
    from the (degree, id)-smaller endpoint to the larger, so every
    out-degree is bounded by ~sqrt(2|E|) regardless of skew, and count
    each triangle exactly once at its smallest vertex by joining
    out-wedges against oriented edges.  Work is Σ outdeg² <= |E|^1.5 —
    the 100 TB-safe bound — in three hash joins + one partial-agg
    count, no collect_list buckets anywhere.

    All outputs are exact integers (``clustering_ppm`` =
    3x10⁶·triangles / wedges, floor division; NULL when wedge-free),
    so the count is invariant to partitioning and a SQL oracle can
    replay it with the simpler id-ordered triple join — orientation
    changes the join bound, never the count.

    The canonical edge set feeds FIVE consumers (degrees, orientation,
    both wedge legs, the closing probe); without a lineage cut each
    one replays the caller's whole edge pipeline — the repeated-
    upstream-pass regression r6 fixed in connected components.  Both ``e`` and
    ``o`` take the shared lazy cut (``_round_persist``): executor-
    local by default, reliable when ``checkpoint_dir`` is set (the
    long-job posture at real scale)."""
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("x"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    e = _round_persist(e, 0, checkpoint_dir, 1)
    deg = (
        e.select(F.col("x").alias("n"))
        .unionByName(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient x->y when (d_x, x) < (d_y, y); carry the endpoint's
    # (degree, id) key so wedge endpoints compare without a re-join
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    ed = e.join(dx, "x").join(dy, "y")
    fwd = F.struct(F.col("dx"), F.col("x")) < F.struct(F.col("dy"), F.col("y"))
    o = ed.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("a"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("b"),
        F.when(fwd, F.col("dy")).otherwise(F.col("dx")).alias("db"),
    )
    o = _round_persist(o, 0, checkpoint_dir, 1)
    w1 = o.select(F.col("a"), F.col("b").alias("p"), F.col("db").alias("dp"))
    w2 = o.select(F.col("a"), F.col("b").alias("q"), F.col("db").alias("dq"))
    wedges = w1.join(w2, "a").filter(
        F.struct(F.col("dp"), F.col("p")) < F.struct(F.col("dq"), F.col("q"))
    )
    closing = o.select(F.col("a").alias("p"), F.col("b").alias("q"))
    tri = wedges.join(closing, ["p", "q"], "left_semi").agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    # coalesce: sums over an EMPTY degree table (all-self-loop or empty
    # input) are NULL, but the declared contract is exact integers with
    # NULL reserved for clustering_ppm on wedge-free graphs (r7 review)
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.coalesce(F.expr("sum(d) div 2"), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(F.sum(F.expr("d * (d - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr("(3000000 * n_triangles) div nullif(n_wedges, 0)")
        .cast("long")
        .alias("clustering_ppm"),
    )


def adamic_adar_links(
    edges: DataFrame,
    src_col: str = "u",
    dst_col: str = "v",
    deg_cap: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge list:
    score every NON-edge pair (u, w) that shares >= 1 neighbor by
    Σ_v 1/ln(deg(v)) over the common neighbors v — the classic
    "who should be connected next" ranking (Adamic & Adar 2003;
    the standard baseline in Liben-Nowell & Kleinberg's link-
    prediction survey), here run on co-occurrence graphs after the
    census probes (:func:`triangle_stats`).

    Candidate pairs come from WEDGES (two edges sharing a center), so
    the cost driver is Σ deg(center)² — a celebrity center is
    quadratic.  The declared measure therefore restricts wedge
    CENTERS to degree <= ``deg_cap``: a hub that half the graph
    touches carries no pair-specific signal anyway (its 1/ln(deg)
    weight asymptotes to the same constant for millions of pairs),
    and the cap bounds the self-join at Σ min(deg, ∞)·[deg <= cap]²
    <= |V|·cap² — the mega-bucket-cap role, part of the semantics so
    an exact SQL oracle models it (same posture as the df <= max_df
    cuts in the text family).  Endpoint degrees are NOT capped.

    Existing edges are removed with a LEFT ANTI join on the canonical
    (min, max) pair (plain equality — null endpoints cannot reach it:
    Spark's least/greatest SKIP nulls, so a (null, v) edge collapses to
    x == y == v and the x != y filter drops it).  The adjacency set feeds degrees, both
    wedge legs, and the anti-join probe — one shared lazy lineage cut
    (:func:`_round_persist`), the r6 single-upstream-pass rule.
    Output: (u, w, common_neighbors BIGINT, aa_score DOUBLE rounded
    6dp); order/limit is the caller's cut."""
    if deg_cap < 2:
        raise ValueError(f"deg_cap must be >= 2, got {deg_cap}")
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("x"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    e = _round_persist(e, 0, checkpoint_dir, 1)
    adj = e.select(F.col("x").alias("c"), F.col("y").alias("n")).unionByName(
        e.select(F.col("y").alias("c"), F.col("x").alias("n"))
    )
    # Pin the WIDTH of everything downstream.  The wedge self-join is
    # OUTPUT-dominated (Σ deg(center)² pairs from a few-MB adjacency),
    # which AQE cannot see — it sizes stages and picks broadcast sides
    # from INPUT stats, and those stats land in racy stage order: the
    # r8 bench's sporadic ~2x q342 outlier was AQE occasionally
    # broadcasting the ADJACENCY side of the centers join and
    # streaming the ~1 MB degree exchange, which then COALESCED to a
    # single partition — the whole 90 MB wedge expansion ran as ONE
    # task (per-stage event logs in PAIRED_r09: slow reps 1-task,
    # fast reps 10-task, same logical plan).  An explicit NUMBERED
    # repartition is exempt from AQE coalescing (REPARTITION_BY_NUM)
    # and must sit HERE, on adj itself: a repartition of the joined
    # frame gets planned away (EnsureRequirements pushes the join's
    # distribution requirement below the broadcast join and drops the
    # user shuffle).  Pinned at the source, ONE exchange feeds the
    # degree count and both wedge legs (ReusedExchange), every
    # downstream stage inherits the configured shuffle width, and the
    # expansion parallelism follows cluster config — never input
    # bytes.  The 100 TB posture, and at small scale it removes the
    # planner flip.
    n_wedge = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    adj = adj.repartition(n_wedge, "c")
    deg = adj.groupBy("c").agg(F.count("*").alias("d"))
    centers = deg.filter((F.col("d") >= 2) & (F.col("d") <= deg_cap))
    # wedge legs share one partial frame: center-filtered adjacency
    # with the center's 1/ln(deg) weight attached once
    ca = adj.join(centers, "c").select(
        "c", "n", (F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("w")
    )
    l1 = ca.select(F.col("c"), F.col("n").alias("u"), F.col("w"))
    l2 = ca.select(F.col("c"), F.col("n").alias("v"))
    # merge hint: both legs already sit on the pinned exchange, so a
    # sort-merge join consumes it in place; without the hint AQE may
    # broadcast one (few-MB) leg, which only buys back the exchange it
    # already has and costs the build memory
    pairs = (
        l1.join(l2.hint("merge"), "c")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum("w").alias("_aa"),
        )
    )
    non_edges = pairs.join(
        e.select(F.col("x").alias("u"), F.col("y").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return non_edges.select(
        "u",
        "v",
        "common_neighbors",
        F.round(F.col("_aa"), 6).alias("aa_score"),
    )


def copresence_pairs(
    events: DataFrame,
    user_col: str = "user_id",
    kind_col: str = "event_type",
    ts_col: str = "ts",
    max_users: int = 200,
) -> DataFrame:
    """Temporal co-presence graph construction: two users are linked
    once per DISTINCT (kind, hour) cell they both appear in — the
    telemetry analogue of the basket projections (orders gave q334 its
    co-purchase edges; sessionized telemetry gives affinity/abuse
    rings theirs).

    Pair volume is Σ|cell-users|² — user density per cell grows with
    the corpus at fixed time resolution, so cells holding more than
    ``max_users`` distinct users are EXCLUDED as part of the declared
    measure (a rush-hour cell where everyone overlaps everyone carries
    no pair-specific affinity signal; the cap is the mega-bucket bound
    an exact SQL oracle can model, the containment/df posture).
    Per-user cell counts are taken over the SAME kept-cell universe so
    ``overlap_ppm`` = co/min(|a|, |b|) is a true overlap coefficient
    in the capped space.  All ratios integer ppm (floor).  Output:
    (user_a, user_b, co_cells, overlap_ppm)."""
    if max_users < 2:
        raise ValueError(f"max_users must be >= 2, got {max_users}")
    cell = F.date_trunc("hour", F.col(ts_col))
    # NULL kind is excluded EXPLICITLY with the other two (r7 review):
    # it used to survive this filter, pay the distinct+groupBy cost,
    # then silently vanish at the equi-joins on (_k, _h) — exclusion by
    # join semantics instead of by declaration
    b = (
        events.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(kind_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("_u"),
            F.col(kind_col).alias("_k"),
            cell.alias("_h"),
        )
        .distinct()
    )
    # b feeds the cell-size aggregate AND the semi probe; kept feeds
    # the per-user counts and both pair legs — one lazy cut each (the
    # r6 single-upstream-pass rule)
    b = b.localCheckpoint(eager=False)
    kept = b.join(
        b.groupBy("_k", "_h")
        .agg(F.count("*").alias("_cu"))
        .filter(F.col("_cu") <= max_users)
        .select("_k", "_h"),
        ["_k", "_h"],
        "left_semi",
    ).localCheckpoint(eager=False)
    nu = kept.groupBy("_u").agg(F.count("*").alias("_nc"))
    a = kept.select("_k", "_h", F.col("_u").alias("_ua"))
    c = kept.select("_k", "_h", F.col("_u").alias("_ub"))
    co = (
        a.join(c, ["_k", "_h"])
        .filter(F.col("_ua") < F.col("_ub"))
        .groupBy("_ua", "_ub")
        .agg(F.count("*").alias("co_cells"))
    )
    na = nu.select(F.col("_u").alias("_ua"), F.col("_nc").alias("_na"))
    nb = nu.select(F.col("_u").alias("_ub"), F.col("_nc").alias("_nb"))
    return (
        co.join(na, "_ua")
        .join(nb, "_ub")
        .select(
            F.col("_ua").alias("user_a"),
            F.col("_ub").alias("user_b"),
            F.col("co_cells").cast("long").alias("co_cells"),
            F.expr("(co_cells * 1000000) div least(_na, _nb)")
            .cast("long")
            .alias("overlap_ppm"),
        )
    )
