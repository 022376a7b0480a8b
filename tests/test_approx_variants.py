"""Published error bounds of the sketch operators, swept past q44/q45/q101.

q44, q45 and q101 are checked on their own output by their contracts in
``tests/oracle.CONTRACTS`` (rank error, HLL++ relative error, count-min
over- and undercount against DuckDB's exact answer).  These tests pin
the same sketches on data the queries never see, and the properties a
top-k output cannot show:

- ``approx_percentile(x, p, accuracy)`` guarantees a RANK error of at
  most ``n/accuracy``: the returned value's rank in the exact sorted
  data lies in ``[(p - 1/acc) * n, (p + 1/acc) * n]`` (±1 for the
  discrete boundary), swept over data seeds and distribution shapes.
- ``approx_count_distinct(x, rsd)`` (HyperLogLog++) has standard error
  ``rsd``; estimates land within ``3 * rsd`` relative (99.7% for one
  draw — and the sketches here are deterministic given data, so a
  passing sweep stays passing).
- count-min never undercounts and rarely overcounts past e/width·N over
  the whole vocabulary, and two half-corpus sketches merge to the
  whole-corpus sketch exactly.

The sketches are seedless/deterministic in Spark, so "seeds swept"
means sweeping DATA seeds: several generated distributions (uniform
hash, heavy-tail, duplicate-heavy) per bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.queries import QUERIES


def _seeded_values(spark, seed: int, n: int, shape: str):
    base = spark.range(n)
    h = F.xxhash64(F.col("id") + F.lit(seed * 1_000_003))
    if shape == "uniform":
        x = (F.pmod(h, F.lit(10_000_000)) / 13.0).alias("x")
    elif shape == "heavy_tail":
        # exp-ish tail: low bits choose a magnitude class
        x = (
            F.pmod(h, F.lit(1000))
            * F.pow(F.lit(10.0), F.pmod(F.col("id"), F.lit(5)).cast("double"))
        ).alias("x")
    else:  # duplicate-heavy: only ~n/50 distinct values
        x = F.pmod(h, F.lit(max(n // 50, 1))).cast("double").alias("x")
    return base.select(x)


def test_approx_percentile_rank_bound_swept(spark):
    """Published rank-error bound on swept data seeds x distribution
    shapes (accuracy=1000 so the bound is loose enough to be a REAL
    guarantee claim, not an exact-coincidence artifact)."""
    acc, n = 1000, 20_000
    for seed in (1, 2, 3):
        for shape in ("uniform", "heavy_tail", "duplicate_heavy"):
            df = _seeded_values(spark, seed, n, shape).cache()
            try:
                for p in (0.1, 0.5, 0.99):
                    v = df.agg(
                        F.expr(f"approx_percentile(x, {p}, {acc})").alias("v")
                    ).collect()[0]["v"]
                    rank = df.filter(F.col("x") <= v).count()
                    lo = (p - 1 / acc) * n - 1
                    # duplicate-heavy data: every tied copy of v counts
                    # into the <=-rank, so the upper bound extends past
                    # the rank guarantee by the tie run length
                    ties = df.filter(F.col("x") == v).count()
                    hi = (p + 1 / acc) * n + ties
                    assert lo <= rank <= hi, (seed, shape, p, rank, p * n, ties)
            finally:
                df.unpersist()


def test_hll_relative_error_bound_swept(spark):
    """HLL++ rsd=0.01: estimates within 3*rsd of the exact distinct
    count across data seeds and cardinalities."""
    rsd = 0.01
    for seed in (1, 2, 3):
        for n in (1_000, 30_000):
            df = spark.range(n).select(
                F.xxhash64(F.col("id") + F.lit(seed * 7_777_777)).alias("u")
            )
            truth = df.distinct().count()
            est = df.agg(F.approx_count_distinct("u", rsd=rsd).alias("e")).collect()[0]["e"]
            assert abs(est - truth) <= 3 * rsd * truth + 1, (seed, n, truth, est)


# ---------------------------------------------------------------- count-min


def _exact_token_counts(spark, sf_dir):
    from real_time_stream_processing_engine_spark.operators.text import tokenize
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("tok"))
    return toks, toks.groupBy("tok").agg(F.count("*").alias("true_count"))


def test_countmin_never_undercounts(spark, sf_dir):
    """CMS's exact one-sided guarantee: est >= true for EVERY item
    (collisions only ever add)."""
    from real_time_stream_processing_engine_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )

    toks, exact = _exact_token_counts(spark, sf_dir)
    sketch = countmin_build(toks)
    est = countmin_estimate(sketch, toks.distinct())
    j = est.join(exact, "tok")
    under = j.filter(F.col("est_count") < F.col("true_count")).count()
    assert under == 0


def test_countmin_overcount_within_published_bound(spark, sf_dir):
    """Cormode-Muthukrishnan: P[est - true > (e/width) * N] <= e^-depth.
    With depth=4 (delta ~ 1.8%) the violating fraction over the whole
    vocabulary must be small; assert <= 5% for slack."""
    from real_time_stream_processing_engine_spark.operators.sketches import (
        DEPTH,
        WIDTH,
        countmin_build,
        countmin_estimate,
    )
    import math

    toks, exact = _exact_token_counts(spark, sf_dir)
    n_items = toks.count()
    eps = math.e / WIDTH
    bound = eps * n_items
    sketch = countmin_build(toks)
    est = countmin_estimate(sketch, toks.distinct())
    j = est.join(exact, "tok")
    total = j.count()
    viol = j.filter(
        (F.col("est_count") - F.col("true_count")) > F.lit(bound)
    ).count()
    assert viol / total <= 0.05, (viol, total, bound, math.exp(-DEPTH))


def test_countmin_merge_equals_whole(spark, sf_dir):
    """Bucket-sum merge of two half-corpus sketches == the sketch of
    the whole corpus, exactly — the roll-up property."""
    from real_time_stream_processing_engine_spark.operators.sketches import (
        countmin_build,
        countmin_merge,
    )
    from real_time_stream_processing_engine_spark.operators.text import tokenize
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = lambda d: d.select(F.explode(tokenize("text")).alias("tok"))
    whole = countmin_build(toks(docs))
    lo = countmin_build(toks(docs.filter(F.col("doc_id") % 2 == 0)))
    hi = countmin_build(toks(docs.filter(F.col("doc_id") % 2 == 1)))
    merged = countmin_merge(lo, hi)
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b


def test_countmin_heavy_hitters_match_exact_top(spark, sf_dir):
    """On this corpus the top-20 by estimate equals the top-20 by exact
    count (heavy hitters sit far above the eps*N noise floor)."""
    toks, exact = _exact_token_counts(spark, sf_dir)
    got = [
        r["tok"]
        for r in QUERIES["q101_countmin_heavy_hitters"](spark, "/root/testdata/sf0.001").collect()
    ]
    want = [
        r["tok"]
        for r in exact.orderBy(
            F.desc("true_count"), F.asc("tok")
        ).limit(20).collect()
    ]
    assert set(got) == set(want)
