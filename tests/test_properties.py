"""Property-based tests (hypothesis) for the invariants the oracle
can't see: parser round-trips over arbitrary patterns, tokenization /
fingerprint contracts over arbitrary text, and salted aggregation
equivalence over arbitrary groupings.

These run the Python-side logic through the same JVM expressions the
operators use, on tiny literal frames — cheap per example, so each
property gets a few dozen generated cases."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.functions.textfn import (
    normalize_ws,
    tokenize,
)
from real_time_stream_processing_engine_spark.operators.parser import (
    parse_operation_string,
)

# text without the quote char (quotes change lexing, covered separately)
plain_word = st.text(
    alphabet=st.characters(blacklist_characters='"', blacklist_categories=("Cs", "Zs", "Cc")),
    min_size=1,
    max_size=12,
)
SET = dict(
    deadline=None,
    max_examples=40,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(words=st.lists(plain_word, min_size=1, max_size=8))
@settings(**SET)
def test_lexer_roundtrips_unquoted_words(words):
    assert parse_operation_string(" ".join(words)) == words


@given(words=st.lists(plain_word, min_size=1, max_size=5))
@settings(**SET)
def test_lexer_quoted_token_keeps_spaces(words):
    token = '"' + " ".join(words) + '"'
    out = parse_operation_string(f"RAINSTORM {token} f.txt 2")
    assert out == ["RAINSTORM", token, "f.txt", "2"]


# ASCII only: JVM and Python disagree on lowercase mappings for exotic
# scripts (different Unicode table versions) and on what counts as
# whitespace (Python str.split splits on \x1c-\x1f etc., Java \s does
# not) — platform artifacts, not engine behavior.  The contract being
# pinned (split semantics, empty removal, lowercasing) lives in ASCII.
texts = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E) | st.sampled_from(" \t\n\r"),
    max_size=80,
)


@given(data=st.lists(texts, min_size=1, max_size=8))
@settings(**SET)
def test_tokenize_matches_python_reference(spark, data):
    """The JVM tokenization contract == the documented Python model:
    lowercased whitespace split, empties removed."""
    df = spark.createDataFrame([(t,) for t in data], "text string")
    got = [r.toks for r in df.select(tokenize("text").alias("toks")).collect()]
    want = [t.lower().split() for t in data]
    assert got == want


@given(t=texts, pad=st.sampled_from([" ", "  ", "\t", "\n", " \t "]))
@settings(**SET)
def test_fingerprint_invariant_under_whitespace(spark, t, pad):
    """Exact-dedup fingerprints must not see whitespace layout: padding
    and internal whitespace runs normalize away."""
    variants = [t, f"{pad}{t}{pad}", t.replace(" ", pad) if " " in t else t]
    df = spark.createDataFrame([(v,) for v in variants], "text string")
    fps = {r.fp for r in df.select(F.md5(normalize_ws("text")).alias("fp")).collect()}
    assert len(fps) == 1


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from("abc"),
            st.integers(-1000, 1000) | st.none(),
            st.integers(-1000, 1000) | st.none(),
        ),
        min_size=1,
        max_size=30,
    ),
    n_salt=st.sampled_from([2, 5, 16]),
)
@settings(**SET)
def test_salted_agg_equals_plain_agg_property(spark, rows, n_salt):
    """Two-phase salted aggregation is a drop-in for the plain one on
    arbitrary (nullable) data and any salt width."""
    from real_time_stream_processing_engine_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "k string, v int, w int")
    salted = {
        r.k: (r.sum_v, r.count_w, r.max_v if hasattr(r, "max_v") else None)
        for r in salted_agg(df, ["k"], {"v": "sum", "w": "count"}, n_salt=n_salt).collect()
    }
    plain = {
        r.k: (r.sum_v, r.count_w, None)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("sum_v"), F.count("w").alias("count_w"))
        .collect()
    }
    assert salted == plain


# ---- sampling-family driver-side math (pure Python, no Spark) ----

from real_time_stream_processing_engine_spark.operators.sampling import (  # noqa: E402
    fraction_threshold_hex,
)
from real_time_stream_processing_engine_spark.operators.text import (  # noqa: E402
    _term_shard_py,
    blocklist_pattern,
)

fractions = st.floats(min_value=0.0, max_value=1.0, allow_nan=False)


@given(a=fractions, b=fractions)
@settings(deadline=None, max_examples=200)
def test_threshold_hex_is_monotone_and_fixed_width(a, b):
    ta, tb = fraction_threshold_hex(a), fraction_threshold_hex(b)
    if a <= b:
        assert ta <= tb  # lexicographic order tracks numeric order
    for t in (ta, tb):
        assert t == "g" or (len(t) == 28 and set(t) <= set("0123456789abcdef"))
    assert fraction_threshold_hex(0.0) == "0" * 28  # keeps nothing


@given(
    terms=st.lists(
        st.text(
            st.characters(blacklist_categories=("Cs", "Cc", "Zl", "Zp")),
            min_size=1,
            max_size=10,
        # whitespace-only terms are now REJECTED inputs (r5: an empty
        # alternation branch matches at every position) — see
        # test_blocklist_rejects_empty_terms for that contract
        ).filter(lambda t: t.strip()),
        min_size=1,
        max_size=6,
    )
)
@settings(deadline=None, max_examples=200)
def test_blocklist_pattern_compiles_and_matches_terms(terms):
    import re

    pat = re.compile(blocklist_pattern(terms))
    for t in terms:
        assert pat.search(f" {t} ") is not None  # term found in isolation


@given(
    term=st.text(min_size=0, max_size=20),
    n=st.integers(min_value=1, max_value=4096),
)
@settings(deadline=None, max_examples=200)
def test_term_shard_in_range_and_stable(term, n):
    s = _term_shard_py(term, n, "seedx")
    assert 0 <= s < n
    assert s == _term_shard_py(term, n, "seedx")  # pure


# ---------------------------------------------------------------------------
# chunk_tokens: coverage/placement invariants over arbitrary doc lengths
# ---------------------------------------------------------------------------


@given(n_tokens=st.integers(min_value=0, max_value=300))
@settings(**SET)
def test_chunking_coverage_invariants(spark, n_tokens):
    from real_time_stream_processing_engine_spark.operators.text import chunk_tokens

    text = " ".join(f"w{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    rows = sorted(
        (r["chunk_id"], list(r["chunk_toks"]))
        for r in chunk_tokens(df, chunk=64, stride=48).collect()
    )
    if n_tokens == 0:
        assert rows == []
        return
    # chunk ids dense from 0; chunk i starts at token i*48; lengths <= 64;
    # every token covered
    assert [c for c, _ in rows] == list(range(len(rows)))
    seen = set()
    for c, toks in rows:
        assert 1 <= len(toks) <= 64
        assert toks[0] == f"w{c * 48}"
        seen.update(toks)
    assert seen == {f"w{i}" for i in range(n_tokens)}


# ---------------------------------------------------------------------------
# weighted_sample: edge rates and monotonicity in the rate
# ---------------------------------------------------------------------------


@given(rates=st.lists(st.sampled_from([0.0, 0.25, 0.5, 0.75, 1.0]),
                      min_size=1, max_size=12))
@settings(**SET)
def test_weighted_sample_edges_and_monotonicity(spark, rates):
    from pyspark.sql import functions as F

    from real_time_stream_processing_engine_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rates)], "doc_id: long, rate: double"
    )
    kept = {r["doc_id"] for r in weighted_sample(df, "rate", "doc_id").collect()}
    by_id = dict(enumerate(rates))
    assert all(by_id[i] > 0.0 for i in kept)          # rate 0 never kept
    assert {i for i, r in by_id.items() if r == 1.0} <= kept  # rate 1 always kept
    # monotone: bumping every rate to 1.0 keeps a superset
    all_kept = {
        r["doc_id"]
        for r in weighted_sample(
            df.withColumn("rate", F.lit(1.0)), "rate", "doc_id"
        ).collect()
    }
    assert kept <= all_kept


@given(
    cents=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=200
    )
)
@settings(max_examples=50, deadline=None)
def test_floor_cents_recovers_exact_integer_cents(cents):
    """The r5 round->floor sweep's safety claim, as a property: for ANY
    2-decimal money value x = d/100 representable the way parquet/
    DuckDB/Spark all store it (binary64), floor(x*100 + 0.5) == d —
    i.e. the single-IEEE-op integerization is EXACT for the entire
    money domain (±1e7 dollars), not just the fixture's values.  Both
    engines evaluate this identical op sequence on identical doubles,
    so cross-engine equality follows from this single-engine exactness
    (numpy float64 IS binary64, same semantics as the JVM and DuckDB).
    """
    import math

    for d in cents:
        x = d / 100.0  # the binary64 the engines hold
        assert math.floor(x * 100.0 + 0.5) == d


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # group
            st.integers(min_value=-50, max_value=50),  # value (ties likely)
        ),
        min_size=1,
        max_size=120,
    ),
    grouped=st.booleans(),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_distributed_cumsum_equals_window_rowwise(spark, rows, grouped):
    """distributed_cumsum must equal the global/grouped window form
    ROW FOR ROW on arbitrary small data (heavy ties, arbitrary group
    skew, n_partitions > n_rows edge included)."""
    from pyspark.sql import Window

    from real_time_stream_processing_engine_spark.operators.stats import (
        distributed_cumsum,
    )

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "k long, g int, v long",
    )
    gcols = ["g"] if grouped else None
    got = {
        r.k: (r.rk, int(r.cum))
        for r in distributed_cumsum(
            df, ["v", "k"], "v", num_partitions=5, group_cols=gcols
        ).collect()
    }
    w = (Window.partitionBy("g") if grouped else Window.partitionBy()).orderBy(
        "v", "k"
    )
    want = {
        r.k: (r.rk, int(r.cum))
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rk"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum"),
        ).collect()
    }
    assert got == want
