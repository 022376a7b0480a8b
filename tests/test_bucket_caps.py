"""Mega-bucket cap enforcement for the bucket-pair operators.

Every bucket-pair operator (LSH, n-gram Jaccard, SimHash, blocked
embedding near-dup) collect_lists one bucket into ONE task and expands
|bucket|^2 pairs in a JVM expression — so one degenerate bucket (a
boilerplate band shared by 10^6 docs at 100 TB) is an executor OOM.
These tests pin the guard rail: oversized buckets are dropped with
non-silent overflow accounting, or fail the job with
``on_overflow='error'``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.operators.dedup import (
    basket_similarity,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from real_time_stream_processing_engine_spark.operators.similarity import (
    blocked_neardup_pairs,
)

N_DUP = 1000


@pytest.fixture(scope="module")
def degenerate_docs(spark):
    """1k identical documents (one mega-bucket in every banding scheme)
    plus a small honest near-dup pair that must survive the cap."""
    rows = [(i, "en", "the quick brown fox jumps over the lazy dog again") for i in range(N_DUP)]
    rows += [
        (N_DUP + 1, "en", "a completely different tiny document about spark plans"),
        (N_DUP + 2, "en", "a completely different tiny document about spark plans today"),
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _overflow(df):
    n = df.count()
    stats = df.bucket_overflow
    assert stats is not None, "cap was set but no overflow stats frame attached"
    return n, stats.first().asDict()


def test_lsh_cap_drops_megabucket_with_accounting(degenerate_docs):
    pairs = lsh_candidate_pairs(degenerate_docs, max_bucket=100)
    n, m = _overflow(pairs)
    # the 1000-identical bucket is dropped from every band...
    assert m["overflow_buckets"] >= 1
    assert m["overflow_members"] >= N_DUP
    assert m["max_bucket_size"] >= N_DUP
    # ...so no pair references the duplicated docs
    assert pairs.filter(F.col("doc_a") < N_DUP).count() == 0
    # the honest near-dup pair still comes through
    assert n >= 1


def test_lsh_uncapped_equals_default_cap_on_small_buckets(degenerate_docs):
    """On buckets below the cap the capped plan is result-identical —
    the property that keeps q16/q17/q18/q39 oracle-green."""
    small = degenerate_docs.filter(F.col("doc_id") >= N_DUP)
    capped = lsh_candidate_pairs(small)  # default MAX_BUCKET
    uncapped = lsh_candidate_pairs(small, max_bucket=None)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, uncapped.collect()))


def test_lsh_on_overflow_error_fails_loudly(degenerate_docs):
    pairs = lsh_candidate_pairs(degenerate_docs, max_bucket=100, on_overflow="error")
    with pytest.raises(Exception, match="max_bucket"):
        pairs.count()


def test_overflow_stats_readable_without_running_pairs(degenerate_docs):
    """The stats frame is an independent lazy query — auditable even if
    the pair expansion itself is never executed."""
    pairs = lsh_candidate_pairs(degenerate_docs, max_bucket=100)
    assert pairs.bucket_overflow.first()["overflow_buckets"] >= 1


def test_ngram_jaccard_cap_drops_hot_gram(degenerate_docs):
    pairs = ngram_jaccard_pairs(degenerate_docs, max_bucket=100, threshold=0.5)
    n, m = _overflow(pairs)
    assert m["overflow_buckets"] >= 1
    assert m["overflow_members"] >= N_DUP
    assert pairs.filter(F.col("doc_a") < N_DUP).count() == 0
    assert n >= 1  # the honest pair's rare grams still intersect


def test_simhash_cap_drops_megabucket(degenerate_docs):
    pairs = simhash_neardup_pairs(degenerate_docs, max_bucket=100)
    n, m = _overflow(pairs)
    assert m["overflow_buckets"] >= 1
    assert pairs.filter(F.col("doc_a") < N_DUP).count() == 0


def test_blocked_neardup_cap(spark):
    import random

    rng = random.Random(7)
    rows = [(i, "hot", [rng.uniform(-1, 1) for _ in range(8)]) for i in range(N_DUP)]
    rows += [
        (N_DUP + 1, "cold", [1.0] * 8),
        (N_DUP + 2, "cold", [1.0] * 7 + [0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    pairs = blocked_neardup_pairs(emb, block_col="label", max_bucket=100, threshold=0.4)
    n, m = _overflow(pairs)
    assert m["overflow_buckets"] == 1
    assert m["overflow_members"] == N_DUP
    # the hot block is gone; the cold pair survives
    got = pairs.collect()
    assert [(r.vec_a, r.vec_b) for r in got] == [(N_DUP + 1, N_DUP + 2)]


def test_error_mode_passes_when_no_overflow(degenerate_docs):
    small = degenerate_docs.filter(F.col("doc_id") >= N_DUP)
    pairs = lsh_candidate_pairs(small, max_bucket=100, on_overflow="error")
    pairs.collect()  # no oversized bucket -> no raise


def test_bad_on_overflow_rejected(degenerate_docs):
    with pytest.raises(ValueError, match="on_overflow"):
        lsh_candidate_pairs(degenerate_docs, max_bucket=10, on_overflow="ignore")


# ---------------------------------------------------------------------------
# r5 review batch: the simhash banding guarantee and exact-dedup NULL keys.
# ---------------------------------------------------------------------------

from real_time_stream_processing_engine_spark.operators.dedup import (  # noqa: E402
    dedup_against,
    fingerprint,
)


def test_simhash_rejects_radius_beyond_banding_guarantee(spark, degenerate_docs):
    """4 x 15-bit bands only pigeonhole Hamming <= 3; asking for more
    must refuse loudly instead of silently under-delivering."""
    with pytest.raises(ValueError, match="banding guarantee"):
        simhash_neardup_pairs(degenerate_docs, max_hamming=4)


def test_basket_similarity_popularity_cap_accounts_hot_item(spark):
    """A hot item (in every basket) is the inverted index's quadratic
    hazard; ``max_item_popularity`` must drop it BEFORE pairing, with
    non-silent ``popularity_overflow`` accounting, and the remaining
    Jaccard must be exact on the CAPPED bipartite graph."""
    rows = [(e, 0) for e in range(50)]  # item 0: popularity 50 (hot)
    rows += [(1, 10), (1, 11), (2, 10), (2, 11)]  # rare shared items
    items = spark.createDataFrame(rows, "entity long, item long")
    out = basket_similarity(
        items, entity_col="entity", item_col="item",
        min_common=2, max_item_popularity=10,
    )
    got = out.collect()
    # only (1,2) survive: 2 shared rare items; capped sets are {10,11}
    # plus the hot item removed, so |1|=|2|=2 and jaccard = 2/2 = 1.0
    assert [(r.a, r.b, r.n_common, r.jaccard_ppm) for r in got] == [
        (1, 2, 2, 1000000)
    ]
    stats = out.popularity_overflow.collect()[0]
    assert stats.items_dropped == 1
    assert stats.max_popularity == 50


def test_basket_similarity_no_cap_has_no_overflow_frame(spark):
    """Without a cap the accounting frame is None — callers must not
    read a stale/empty frame as 'nothing dropped'."""
    items = spark.createDataFrame(
        [(1, 10), (2, 10)], "entity long, item long"
    )
    out = basket_similarity(items, entity_col="entity", item_col="item")
    assert out.popularity_overflow is None


def test_dedup_against_null_text_is_null_safe(spark):
    """NULL-text rows must dedup against a corpus that already contains
    a NULL fingerprint — not pass as 'new' in every batch forever."""
    new = spark.createDataFrame(
        [(1, None), (2, "real content here")], "doc_id long, text string"
    )
    seen = fingerprint(
        spark.createDataFrame([(9, None)], "doc_id long, text string")
    ).select("fingerprint")
    kept = dedup_against(new, seen).select("doc_id").collect()
    assert {r.doc_id for r in kept} == {2}
