"""Deterministic-sampling invariants (beyond q49/q50's oracle checks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.operators.sampling import (
    bernoulli_sample,
    fraction_threshold_hex,
    mixture_sample,
    repeat_rows,
    stratified_fixed_k,
)


def test_bernoulli_membership_stable_under_repartition(spark):
    df = spark.range(5000).withColumnRenamed("id", "k")
    a = {r.k for r in bernoulli_sample(df, 0.2, "k").collect()}
    b = {r.k for r in bernoulli_sample(df.repartition(17), 0.2, "k").collect()}
    assert a == b  # membership is a row property, not a partition property
    # and the rate concentrates around the fraction
    assert 0.15 < len(a) / 5000 < 0.25


def test_bernoulli_seeds_draw_independent_samples(spark):
    df = spark.range(5000).withColumnRenamed("id", "k")
    a = {r.k for r in bernoulli_sample(df, 0.2, "k", seed="s1").collect()}
    b = {r.k for r in bernoulli_sample(df, 0.2, "k", seed="s2").collect()}
    overlap = len(a & b) / max(len(a), 1)
    assert a != b and 0.1 < overlap < 0.35  # ~fraction, not 0, not 1


def test_fraction_edges(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    assert bernoulli_sample(df, 0.0, "k").count() == 0
    assert bernoulli_sample(df, 1.0, "k").count() == 100
    assert len(fraction_threshold_hex(0.5)) == 28


def test_stratified_fixed_k_exact_and_small_strata(spark):
    rows = [(i, "big") for i in range(200)] + [(1000 + i, "tiny") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_fixed_k(df, ["lang"], k=10, id_col="doc_id")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 10, "tiny": 3}  # capped at k; small strata whole


def test_split_assign_partitions_every_row_stably(spark):
    from real_time_stream_processing_engine_spark.operators.sampling import (
        split_assign,
    )

    df = spark.range(4000).withColumnRenamed("id", "k")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = split_assign(df, splits, id_col="k")
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 4000  # exactly one split per row
    assert 0.75 < counts["train"] / 4000 < 0.85
    # stability: membership identical after repartition AND when the
    # corpus grows (old ids keep their split)
    b = {r.k: r.split for r in split_assign(df.repartition(11), splits, id_col="k").collect()}
    grown = spark.range(8000).withColumnRenamed("id", "k")
    g = {r.k: r.split for r in split_assign(grown, splits, id_col="k").collect()}
    assert all(g[k] == v for k, v in b.items())


def test_split_assign_rejects_bad_weights(spark):
    from real_time_stream_processing_engine_spark.operators.sampling import (
        split_assign,
    )

    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, {"a": 0.5, "b": 0.4}, id_col="k")
    with pytest.raises(ValueError, match="two splits"):
        split_assign(df, {"a": 1.0}, id_col="k")


def test_stratified_sample_is_deterministic(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    a = sorted(r.doc_id for r in stratified_fixed_k(df, ["lang"], 25, "doc_id").collect())
    b = sorted(
        r.doc_id
        for r in stratified_fixed_k(df.repartition(13), ["lang"], 25, "doc_id").collect()
    )
    assert a == b


def test_mixture_sample_rates_and_determinism(spark):
    df = spark.range(4000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("grp")
    )
    rates = {"0": 0.2, "1": 0.8}  # groups 2,3 take default_rate=1.0
    out = mixture_sample(df, rates, group_col="grp", id_col="id", seed="t1")
    got = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert got["2"] == 1000 and got["3"] == 1000  # default keeps all
    assert abs(got["0"] - 200) < 60 and abs(got["1"] - 800) < 60  # binomial range
    # deterministic: identical membership on a re-run and after repartition
    again = mixture_sample(df.repartition(13), rates, group_col="grp", id_col="id", seed="t1")
    assert sorted(r["id"] for r in out.collect()) == sorted(r["id"] for r in again.collect())
    # a different seed draws a genuinely different mixture
    other = mixture_sample(df, rates, group_col="grp", id_col="id", seed="t2")
    assert sorted(r["id"] for r in out.collect()) != sorted(r["id"] for r in other.collect())


def test_repeat_rows_factors_epochs_and_determinism(spark):
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("grp")
    )
    out = repeat_rows(df, {"0": 2.5, "1": 0.25}, group_col="grp", id_col="id", seed="r1")
    rows = out.collect()
    by_id: dict[int, list[int]] = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r["epoch"])
    # group 0: every row appears 2 or 3 times, epochs numbered 1..n
    for i in range(0, 2000, 2):
        assert sorted(by_id[i]) in ([1, 2], [1, 2, 3])
    n0 = sum(len(v) for i, v in by_id.items() if i % 2 == 0)
    assert abs(n0 - 2500) < 120  # E = 1000 * 2.5, binomial spread
    # group 1: rows appear 0 or 1 times; ~25% survive
    assert all(v == [1] for i, v in by_id.items() if i % 2 == 1)
    n1 = sum(1 for i in by_id if i % 2 == 1)
    assert abs(n1 - 250) < 60
    # deterministic under repartition
    again = repeat_rows(
        df.repartition(7), {"0": 2.5, "1": 0.25}, group_col="grp", id_col="id", seed="r1"
    )
    assert sorted((r["id"], r["epoch"]) for r in again.collect()) == sorted(
        (r["id"], r["epoch"]) for r in rows
    )
    # the thinning draw agrees with mixture_sample: factor f<1 keeps
    # exactly the rows a rate-f mixture keeps (same seed, same draw)
    thin = mixture_sample(
        df.filter(F.col("grp") == "1"), {"1": 0.25}, group_col="grp", id_col="id", seed="r1"
    )
    assert sorted(r["id"] for r in thin.collect()) == sorted(
        i for i in by_id if i % 2 == 1
    )


def test_repeat_rows_rejects_negative_factor(spark):
    df = spark.range(1).select(F.col("id"), F.lit("a").alias("grp"))
    with pytest.raises(ValueError):
        repeat_rows(df, {"a": -1.0}, group_col="grp", id_col="id")


def test_samplers_refuse_null_ids(spark):
    """r5 review: concat_ws silently skipped a NULL id, giving every
    null-id row the identical draw (an all-in/all-out correlated block,
    one shard, one split).  The draw key now raises on the first null."""
    from real_time_stream_processing_engine_spark.operators.sampling import (
        bernoulli_sample,
        shard_col,
        split_assign,
    )

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    with pytest.raises(Exception, match="non-null row id"):
        bernoulli_sample(df, 0.5, "doc_id").collect()
    with pytest.raises(Exception, match="non-null row id"):
        df.select(shard_col("doc_id", 8)).collect()
    with pytest.raises(Exception, match="non-null row id"):
        split_assign(df, {"a": 0.5, "b": 0.5}, "doc_id").collect()


def test_split_assign_rejects_negative_weights(spark):
    from real_time_stream_processing_engine_spark.operators.sampling import (
        split_assign,
    )

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="positive"):
        split_assign(df, {"a": 0.5, "b": -0.2, "c": 0.7}, "doc_id")


def test_weighted_sample_rejects_overflowing_digits(spark):
    from real_time_stream_processing_engine_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame([(1, 0.5)], "doc_id long, rate double")
    with pytest.raises(ValueError, match="digits"):
        weighted_sample(df, "rate", "doc_id", digits=16)


def test_samplers_refuse_output_column_clash(spark):
    """withColumn silently REPLACES same-named columns — every sampler
    that adds an output/rank column refuses a collision loudly instead
    (r8 review; the module-wide reserved-scratch contract)."""
    import pytest

    from real_time_stream_processing_engine_spark.operators.sampling import (
        group_uniform_sample,
        repeat_rows,
        split_assign,
        stratified_fixed_k,
    )

    d = spark.createDataFrame(
        [(1, "a", 5)], "id long, g string, split string"
    ).withColumnRenamed("split", "split")
    with pytest.raises(ValueError, match="split"):
        split_assign(d, {"train": 0.5, "test": 0.5}, "id")
    e = spark.createDataFrame([(1, "a", 2)], "id long, g string, draw long")
    with pytest.raises(ValueError, match="draw"):
        group_uniform_sample(e, ["g"], "id", k=1)
    f = spark.createDataFrame(
        [(1, "a", 2)], "id long, g string, _sample_rk long"
    )
    with pytest.raises(ValueError, match="_sample_rk"):
        stratified_fixed_k(f, ["g"], 1, "id")
    h = spark.createDataFrame([(1, "a", 2)], "id long, g string, epoch long")
    with pytest.raises(ValueError, match="epoch"):
        repeat_rows(h, {"a": 2.0}, "g", "id")
