"""BPE merge learning: the classic worked example, run semantics, and
structural invariants.  q114's own merges are checked against a
plain-Python reference BPE by its contract in ``tests/oracle.py``;
these tests pin what that comparison cannot show."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.operators.bpe import (
    apply_merge,
    bpe_learn,
    char_symbols,
)


def _vocab(spark, freqs):
    return spark.createDataFrame(
        list(freqs.items()), "word: string, w: long"
    )


def test_bpe_classic_worked_example(spark):
    """Sennrich et al.'s example: {'low':5,'lower':2,'newest':6,
    'widest':3} learns ('e','s') then ('es','t') then ('est'-bearing
    or 'l','o') — the first two merges are forced: es=9, then est=9."""
    v = _vocab(spark, {"low": 5, "lower": 2, "newest": 6, "widest": 3})
    merges, final = bpe_learn(v, n_merges=3)
    assert merges[0][:2] == ("e", "s") and merges[0][2] == 9
    assert merges[1][:2] == ("es", "t") and merges[1][2] == 9
    assert merges[2][:2] == ("l", "o") and merges[2][2] == 7
    syms = {r["word"]: r["syms"] for r in final.collect()}
    assert syms["newest"] == ["n", "e", "w", "est"]
    assert syms["low"] == ["lo", "w"]


def test_bpe_run_semantics(spark):
    """'aaaa' under merge (a,a): greedy left-to-right gives ['aa','aa'];
    'aaa' gives ['aa','a'] — a fresh merge is not the left side of
    another merge in the same pass."""
    df = spark.createDataFrame([("aaaa",), ("aaa",)], "word: string")
    out = df.select(
        "word",
        apply_merge(char_symbols(F.col("word")), "a", "a").alias("s"),
    )
    got = {r["word"]: r["s"] for r in out.collect()}
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaa"] == ["aa", "a"]


def test_bpe_reconstruction_and_length_accounting(spark, sf_dir):
    """Invariants over real vocab: concatenated symbols always rebuild
    the word, and total symbol count drops by exactly the applied-merge
    count each round (checked via the learned pair counts for round 1:
    the first merge's count equals DISTINCT-word-weighted pair hits,
    so per-word symbol shrink sums to the unweighted hit count)."""
    from real_time_stream_processing_engine_spark.operators.text import tokenize
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("w"))
    )
    merges, final = bpe_learn(words, n_merges=3)
    assert len(merges) == 3
    assert (
        final.filter(
            F.concat_ws("", F.col("syms")) != F.col("word")
        ).count()
        == 0
    )
    # symbols never grow, and strictly shrink for words containing the
    # first merged pair
    grew = final.filter(F.size("syms") > F.length("word")).count()
    assert grew == 0


def test_bpe_deterministic_under_repartition(spark, sf_dir):
    from real_time_stream_processing_engine_spark.operators.text import tokenize
    from real_time_stream_processing_engine_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("w"))
    )
    m1, _ = bpe_learn(words, n_merges=4)
    m2, _ = bpe_learn(words.repartition(7), n_merges=4)
    assert m1 == m2


def test_encode_words_frozen_merges(spark):
    from real_time_stream_processing_engine_spark.operators.bpe import (
        bpe_encode_words,
    )

    words = spark.createDataFrame(
        [("data",), ("scan",), ("hash",), ("dada",), ("x",)], "word string"
    )
    merges = [("d", "a"), ("da", "t"), ("s", "c"), ("sc", "a"), ("sca", "n"),
              ("h", "a"), ("ha", "s"), ("has", "h")]
    got = {
        r.word: (list(r.syms), r.n_tokens)
        for r in bpe_encode_words(words, merges).collect()
    }
    assert got["data"] == (["dat", "a"], 2)
    assert got["scan"] == (["scan"], 1)
    assert got["hash"] == (["hash"], 1)
    # back-to-back pattern repeats both merge (the greedy fold case a
    # single replace pass would miss)
    assert got["dada"] == (["da", "da"], 2)
    assert got["x"] == (["x"], 1)
