"""Declared query inventory (SURVEY.md §2.6) with DuckDB oracles.

Each query is registered as ``(name, spark_fn, oracle_sql)``:

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the engine under test.
- ``oracle_sql`` — ANSI SQL DuckDB runs over the same parquet tables
  (pre-registered views: region nation customer supplier part orders
  lineitem events documents embeddings).  ``None`` marks queries whose
  semantics are not SQL-expressible (driver then does a rows-only check).

Determinism rules: every float that reaches the output is ROUND()ed
identically on both sides; every aggregate/computed column is aliased to
the same name on both sides (the driver sorts columns by name and
hash-compares values); timestamps are reduced to epoch integers; DuckDB
integer sums are cast back to BIGINT (DuckDB widens SUM to HUGEINT).

q01–q10 are the reference-derived surface (SURVEY.md §2.2's operators
O1–O10 / E1–E4); q11+ are the north-star extensions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.textfn import tokenize
from .functions.vectors import cosine_similarity, lit_double_array
from .operators import core
from .operators.parser import create_operator
from .sources.readers import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco



def _dataset_key(sf_dir: str) -> str:
    """12-hex identity key of a dataset dir for scratch/index staging
    paths (IVF index, partitioned warehouse, bucketed tables, BM25
    index): ONE key per physical directory regardless of the caller's
    spelling.  r9 review: ``abspath(sf_dir)`` on a ``file:``-spelled
    dir cwd-joined it into a bogus string, giving the same dataset a
    fresh scratch dir per spelling (and per cwd) and silently
    defeating the manifest-reuse staleness machinery — results stayed
    correct, every build re-ran.  realpath after the scheme strip so
    symlinked spellings of one directory share a key too, the same
    canonicalization policy as the streaming ledger's ``_norm_ckpt``."""
    import os
    import uuid

    from .sources.fsmeta import strip_file_scheme

    return uuid.uuid5(
        uuid.NAMESPACE_URL, os.path.realpath(strip_file_scheme(sf_dir))
    ).hex[:12]


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Canonical co-purchase edge list (u < v part pairs sharing an
    order) — the ONE definition q334's census, q342's link prediction
    and q349's degree fit all build on, so the graph they describe
    cannot silently diverge."""
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    return a.join(b, "l_orderkey").filter(F.col("u") < F.col("v")).select("u", "v")


# --------------------------------------------------------------------------
# Reference surface: O1-O10 (SURVEY.md §2.2)
# --------------------------------------------------------------------------


@register(
    "q01_filter_contains",
    "SELECT doc_id, text FROM documents WHERE contains(lower(text), 'stream')",
)
def q01_filter_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 FILTER — case-insensitive substring (``Operators.java:121-144``)."""
    docs = load_table(spark, sf_dir, "documents")
    return core.filter_contains("stream", col="text")(docs).select("doc_id", "text")


@register(
    "q02_column_filter_eq",
    "SELECT event_id, user_id, event_type, value FROM events "
    "WHERE trim(event_type) = 'click'",
)
def q02_column_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 COLUMN_FILTER — trimmed equality on a named column
    (``Operators.java:258-277``)."""
    ev = load_table(spark, sf_dir, "events")
    return core.column_filter("event_type", "click")(ev).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "q03_filter_project",
    "SELECT doc_id, lang, n_chars FROM documents WHERE contains(lower(text), 'join')",
)
def q03_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1→O7 — the reference's classic two-op demo (pattern filter then
    projection; ``Node.java:439-470``).  Catalyst prunes the scan to the
    three projected columns + the filter column."""
    docs = load_table(spark, sf_dir, "documents")
    pipeline = core.pipe(
        core.filter_contains("join", col="text"),
        core.select_columns("doc_id", "lang", "n_chars"),
    )
    return pipeline(docs)


@register(
    "q04_filter_count",
    "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM events WHERE trim(event_type) = 'purchase'",
)
def q04_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2→O9 — demo 2 of the reference (equality filter → running count,
    ``Node.java:475-477``); here the exact batch count."""
    ev = load_table(spark, sf_dir, "events")
    pipeline = core.pipe(
        core.column_filter("event_type", "purchase"),
        core.aggregate("count", alias="cnt"),
    )
    return pipeline(ev)


@register(
    "q05_transform_case",
    "SELECT doc_id, upper(lang) AS lang_up, lower(source) AS src_low, "
    "CAST(length(trim(text)) AS BIGINT) AS text_len FROM documents",
)
def q05_transform_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O4/O5 TRANSFORM — uppercase / lowercase / trim
    (``Operators.java:159-164``)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_up"),
        F.lower("source").alias("src_low"),
        F.length(F.trim(F.col("text"))).cast("long").alias("text_len"),
    )


@register(
    "q06_word_count",
    "SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM ("
    "  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents"
    ") t WHERE word <> '' GROUP BY word",
)
def q06_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6→O9 — splitintowords as a true flatMap, then keyed count (the
    honest version of ``Operators.java:165-167``'s newline-join)."""
    docs = load_table(spark, sf_dir, "documents")
    pipeline = core.pipe(
        core.transform_lower(col="text"),
        core.split_into_words(col="text", out="word"),
        core.aggregate("count", keys=("word",), alias="cnt"),
    )
    return pipeline(docs.select("text"))


@register(
    "q07_fused_filter_transform",
    "SELECT doc_id, upper(text) AS text_upper FROM documents "
    "WHERE contains(lower(text), 'data')",
)
def q07_fused_filter_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 FILTERED_TRANSFORM — fused filter+map (``Operators.java:48-54``);
    Catalyst fuses via whole-stage codegen, no manual pairing."""
    docs = load_table(spark, sf_dir, "documents")
    fused = core.filtered_transform("data", core.transform_upper(col="text"), col="text")
    return fused(docs).select("doc_id", F.col("text").alias("text_upper"))


@register(
    "q08_grouped_agg",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q08_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 generalized — the advertised-but-unbuilt
    ``AGGREGATE:function:field`` (``RainStorm.java:888-891``) done right:
    keyed sum/avg/count in one pass (TPC-H Q1 shape).  Map-side partial
    aggregation means the shuffle carries one row per (flag, status) per
    partition — at 100 TB the exchange is a few KB."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q09_chained_pipeline",
    "SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty FROM lineitem "
    "WHERE trim(l_linestatus) = 'F' GROUP BY l_returnflag",
)
def q09_chained_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 — operator chaining through the string-command parser (parity
    with ``RAINSTORM op1 op2``, ``Node.java:281-353``), composed as one
    lazy plan instead of materializing op1's output file
    (``Node.java:1106-1160``)."""
    li = load_table(spark, sf_dir, "lineitem")
    pipeline = core.pipe(
        create_operator("COLUMN_FILTER:l_linestatus:F"),
        create_operator("AGGREGATE:sum:l_quantity:by=l_returnflag"),
    )
    out = pipeline(li)
    return out.select("l_returnflag", F.round("sum_l_quantity", 2).alias("sum_qty"))


@register(
    "q10_stream_running_count",
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY event_type",
)
def q10_stream_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2/O9/E4 — the streaming running count, as Structured Streaming.

    The reference streams tuples stage-1→stage-2 with ACK+5s-retry
    at-least-once delivery and a task-local count that can overcount on
    retry (``Node.java:915-1046``, unused dedup ``Node.java:117``).  Here:
    a file-source stream, checkpointed stateful aggregation, exactly-once
    counts; Trigger.AvailableNow drains the source then stops, and the
    final state must equal the batch answer (the oracle)."""
    from .streaming.runner import stream_grouped_counts

    return stream_grouped_counts(spark, sf_dir)


# --------------------------------------------------------------------------
# North-star extensions: dedup / text / similarity / joins (q11+)
# --------------------------------------------------------------------------


@register(
    "q11_dedup_exact",
    "SELECT user_id, event_type, MIN(event_id) AS first_event_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_dups FROM events GROUP BY user_id, event_type",
)
def q11_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic keep-rule (min id per key).

    Implemented as hash-aggregate, not ``dropDuplicates`` — the keep-rule
    makes the survivor deterministic (dropDuplicates keeps an arbitrary
    row) and the aggregate form carries the duplicate count for free.
    One shuffle on the dedup key; map-side combine shrinks it."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count("*").alias("n_dups"),
    )


_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")


@register(
    "q12_text_topk_terms",
    f"""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents
    ) t
    WHERE word <> '' AND word NOT IN {_STOPWORDS!r}
    GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 25
    """,
)
def q12_text_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: tokenize → stopword filter → global top-k terms.
    Deterministic total order (count desc, word asc).  The partial
    aggregation + single-reducer top-k is the scalable shape: the sort
    input is |vocab|, not |tokens|."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .filter(~F.col("word").isin(*_STOPWORDS))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(25)
    )


@register(
    "q13_knn_cosine",
    """
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT e.vec_id,
             SUM(CAST(e.embedding[s.i] AS DOUBLE) * CAST(q.embedding[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(e.embedding[s.i] AS DOUBLE) * CAST(e.embedding[s.i] AS DOUBLE)) AS na2,
             SUM(CAST(q.embedding[s.i] AS DOUBLE) * CAST(q.embedding[s.i] AS DOUBLE)) AS nb2
      FROM embeddings e CROSS JOIN q CROSS JOIN generate_series(1, 64) s(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
    )
    SELECT vec_id, ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) AS cos_sim
    FROM terms ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
)
def q13_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: brute-force cosine top-k vs a fixed query vector
    (the embedding of vec_id=0).

    The scan side stays JVM-only (zip_with/aggregate — no Python, no
    Arrow hop); the query vector is a broadcast literal.  Scores are
    rounded to 6dp *before* the ordering so the top-k set is
    deterministic.  At 100 TB this is the exact-baseline path; the
    LSH-bucketed variant (similarity module) is the sub-linear one."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    qlit = lit_double_array(qvec)
    return (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "q14_multimodal_join",
    """
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(e.value), 2) AS sum_value
    FROM documents d JOIN events e ON e.user_id = d.doc_id
    WHERE d.n_chars > 100
    GROUP BY d.lang
    """,
)
def q14_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents (dimension) joined to the events fact table with a
    pushed-down length predicate.  The documents side is explicitly
    broadcast: at 100 TB the fact table never shuffles for a dimension
    join — the build side ships to every executor instead."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 100)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.join(F.broadcast(docs), ev.user_id == docs.doc_id)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# shared oracle-SQL fragments (tokenization contract of functions/textfn.py)
_SQL_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
_SQL_SHINGLE3 = (
    "SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks)-1), "
    "i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS shingle "
    f"FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents) t WHERE len(toks) >= 3"
)


@register(
    "q15_minhash_signatures",
    f"""
    WITH sh AS ({_SQL_SHINGLE3})
    SELECT doc_id,
           MIN(md5('0|' || shingle)) AS m0, MIN(md5('1|' || shingle)) AS m1,
           MIN(md5('2|' || shingle)) AS m2, MIN(md5('3|' || shingle)) AS m3,
           MIN(md5('4|' || shingle)) AS m4, MIN(md5('5|' || shingle)) AS m5,
           MIN(md5('6|' || shingle)) AS m6, MIN(md5('7|' || shingle)) AS m7
    FROM sh GROUP BY doc_id
    """,
)
def q15_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over word 3-shingles (dedup scale path): one
    shingle explode, one hash aggregate computing all 8 minima."""
    from .operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs)


@register(
    "q16_lsh_candidates",
    f"""
    WITH sh AS ({_SQL_SHINGLE3}),
    seeds AS (SELECT unnest(['0','1','2','3','4','5','6','7']) AS seed),
    sig AS (SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS mh
            FROM sh CROSS JOIN seeds GROUP BY doc_id, seed)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_bands
    FROM sig a JOIN sig b ON a.seed = b.seed AND a.mh = b.mh AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def q16_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs: self-join on band buckets
    (n_bands/8 estimates jaccard); never all-pairs."""
    from .operators.dedup import lsh_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, on_overflow="error")


@register(
    "q17_ngram_jaccard",
    f"""
    WITH g AS (
      SELECT DISTINCT doc_id, lang, unnest(list_transform(range(1, len(toks)-1),
             i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS gram
      FROM (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents) t WHERE len(toks) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM g a JOIN g b ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT da AS doc_a, db AS doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
    WHERE ROUND(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.5
    """,
)
def q17_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs, blocked by lang — the
    exact-verify stage over the same shingle space as q15/q16's
    MinHash-LSH candidates."""
    from .operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, on_overflow="error")


@register(
    "q18_embedding_neardup",
    """
    WITH terms AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             SUM(CAST(a.embedding[s.i] AS DOUBLE) * CAST(b.embedding[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(a.embedding[s.i] AS DOUBLE) * CAST(a.embedding[s.i] AS DOUBLE)) AS na2,
             SUM(CAST(b.embedding[s.i] AS DOUBLE) * CAST(b.embedding[s.i] AS DOUBLE)) AS nb2
      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      CROSS JOIN generate_series(1, 64) s(i)
      GROUP BY 1, 2)
    SELECT va AS vec_a, vb AS vec_b, ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) AS cos_sim
    FROM terms WHERE ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) > 0.4
    """,
)
def q18_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the label
    plays the LSH-bucket/IVF-cell role the real pipeline would use)."""
    from .operators.similarity import blocked_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return blocked_neardup_pairs(emb, threshold=0.4, on_overflow="error")


def _lex_values() -> str:
    from .operators.text import LANG_LEXICON

    rows = [
        f"('{w}', '{lang}')" for lang, words in sorted(LANG_LEXICON.items()) for w in words
    ]
    return ", ".join(rows)


@register(
    "q19_lang_id",
    f"""
    WITH lex AS (SELECT * FROM (VALUES {_lex_values()}) AS t(w, lg)),
    tok AS (SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS w FROM documents),
    hits AS (SELECT t.doc_id, l.lg, COUNT(*) AS c FROM tok t JOIN lex l ON t.w = l.w GROUP BY 1, 2),
    best AS (SELECT doc_id, lg, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lg ASC) AS rn
             FROM hits)
    SELECT d.doc_id, COALESCE(b.lg, 'und') AS lang_pred
    FROM documents d LEFT JOIN (SELECT doc_id, lg FROM best WHERE rn = 1) b USING (doc_id)
    """,
)
def q19_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID (argmax of function-word hits, ties
    lexicographic, no hits -> 'und')."""
    from .operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs).select("doc_id", "lang_pred")


@register(
    "q20_quality_score",
    f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    f AS (
      SELECT doc_id,
             len(toks) AS nt,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / GREATEST(length(text), 1) AS pr,
             len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','on','for'], x))) * 1.0
               / GREATEST(len(toks), 1) AS sr
      FROM t)
    SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
           ROUND(pr, 6) AS punct_ratio, ROUND(sr, 6) AS stop_ratio,
           ROUND(LEAST(1.0, nt / 100.0) * (1 - pr) * (0.5 + 0.5 * sr), 6) AS quality
    FROM f
    """,
)
def q20_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality features + composite score (length saturation,
    punctuation ratio, stopword prior) — all codegen, no shuffle."""
    from .operators.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs)


@register(
    "q21_token_stats",
    f"""
    WITH t AS (SELECT lang, len({_SQL_TOKS}) AS ws,
                      len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS bpe
               FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS sum_ws_tokens, ROUND(AVG(ws), 6) AS avg_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS sum_bpe_tokens, ROUND(AVG(bpe), 6) AS avg_bpe_tokens
    FROM t GROUP BY lang
    """,
)
def q21_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting, aggregated per lang."""
    from .operators.text import token_stats_by_lang

    docs = load_table(spark, sf_dir, "documents")
    return token_stats_by_lang(docs)


@register(
    "q22_fingerprint_clusters",
    r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM documents GROUP BY 1
    """,
)
def q22_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup clusters keyed on the md5 content fingerprint (the
    shuffle carries 32-byte hashes, not documents)."""
    from .operators.dedup import exact_dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_clusters(docs)


@register(
    "q23_tumbling_window",
    """
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q23_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate (event-time extension; the
    reference has no event time, SURVEY.md §2.5)."""
    from .operators.windows import tumbling_counts

    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev)


@register(
    "q24_sessionization",
    """
    WITH lagd AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    marked AS (SELECT user_id, event_id, us,
                      CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
               FROM lagd),
    sess AS (SELECT user_id, us,
                    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS session_id
             FROM marked)
    SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(us) AS session_start_us, MAX(us) - MIN(us) AS duration_us
    FROM sess GROUP BY 1, 2
    """,
)
def q24_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) via lag + running boundary sum."""
    from .operators.windows import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev)


@register(
    "q25_topk_per_group",
    """
    SELECT event_type, event_id, value, rk FROM (
      SELECT event_type, event_id, value,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS BIGINT) AS rk
      FROM events) t
    WHERE rk <= 3
    """,
)
def q25_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (rank pushed below the shuffle via WindowGroupLimit)."""
    from .operators.windows import topk_per_group

    ev = load_table(spark, sf_dir, "events")
    return topk_per_group(ev)


@register(
    "q26_asof_join",
    """
    SELECT e.event_id, e.user_id, CAST(epoch(MAX(o.o_orderdate)) AS BIGINT) AS last_order_epoch
    FROM events e LEFT JOIN orders o
      ON o.o_custkey = e.user_id + 1 AND o.o_orderdate <= e.ts
    GROUP BY 1, 2
    """,
)
def q26_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent order at-or-before each event) via the
    union-sort-carry pattern — one exchange, no range join."""
    from .operators.windows import asof_join_last_order

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return asof_join_last_order(ev, orders)


@register(
    "q27_multimodal_features",
    """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
           substr(md5(text), 1, 8) AS feat8
    FROM documents
    """,
)
def q27_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing: utf-8 payload -> Arrow-batched
    mapInPandas feature extraction (deterministic fake decoder; real
    codecs slot into the same schema/batch contract)."""
    from .functions.partitioning import pandas_parallelism
    from .operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    # cores/2, not cores: a mapInPandas task runs a JVM thread AND a
    # Python worker (the q172 finding) — measured 0.69 s at 32 parts
    # vs 0.43 s at 16 on the decode stage (r12 opt)
    return extract_features(docs, min_parallelism=pandas_parallelism(docs))


@register(
    "q28_ivf_ann",
    """
    WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    vc AS (
      SELECT v.vec_id, c.cid,
             SUM(CAST(v.embedding[s.i] AS DOUBLE) * CAST(c.ce[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(v.embedding[s.i] AS DOUBLE) * CAST(v.embedding[s.i] AS DOUBLE)) AS nv,
             SUM(CAST(c.ce[s.i] AS DOUBLE) * CAST(c.ce[s.i] AS DOUBLE)) AS nc
      FROM embeddings v CROSS JOIN c CROSS JOIN generate_series(1, 64) s(i)
      GROUP BY 1, 2),
    assign AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cid ASC) AS rn
      FROM vc),
    cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
    qcos AS (
      SELECT c.cid,
             SUM(CAST(c.ce[s.i] AS DOUBLE) * CAST(q.qe[s.i] AS DOUBLE))
               / (sqrt(SUM(CAST(c.ce[s.i] AS DOUBLE) * CAST(c.ce[s.i] AS DOUBLE)))
                  * sqrt(SUM(CAST(q.qe[s.i] AS DOUBLE) * CAST(q.qe[s.i] AS DOUBLE)))) AS qc
      FROM c CROSS JOIN q CROSS JOIN generate_series(1, 64) s(i) GROUP BY c.cid),
    probe AS (SELECT cid FROM (SELECT cid, row_number() OVER (ORDER BY qc DESC, cid ASC) AS rn FROM qcos) t
              WHERE rn <= 4),
    scored AS (
      SELECT v.vec_id,
             SUM(CAST(v.embedding[s.i] AS DOUBLE) * CAST(q.qe[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(v.embedding[s.i] AS DOUBLE) * CAST(v.embedding[s.i] AS DOUBLE)) AS nv,
             SUM(CAST(q.qe[s.i] AS DOUBLE) * CAST(q.qe[s.i] AS DOUBLE)) AS nq
      FROM embeddings v CROSS JOIN q CROSS JOIN generate_series(1, 64) s(i)
      WHERE v.vec_id <> 0 AND v.vec_id IN (SELECT vec_id FROM cells WHERE cell IN (SELECT cid FROM probe))
      GROUP BY 1)
    SELECT vec_id, ROUND(dp / (sqrt(nv) * sqrt(nq)), 6) AS cos_sim
    FROM scored ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
)
def q28_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: 16-centroid codebook (vec_id 0..15), probe the 4
    nearest cells, exact rank inside them — the sub-linear scale path
    next to q13's exact baseline."""
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    ]
    qvec = next(c for cid, c in cents if cid == 0)
    return ivf_topk(emb, qvec, cents, k=10, n_probe=4, exclude_id=0)


# --------------------------------------------------------------------------
# Streaming surface beyond q10: event-time windows, redelivery dedup,
# session windows, custom stateful operators.  Each drains with
# Trigger.AvailableNow and must equal the batch answer at stream end.
# --------------------------------------------------------------------------


@register(
    "q29_stream_tumbling",
    """
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q29_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked hourly tumbling windows on the event stream — the
    event-time/late-data machinery the reference lacks (SURVEY.md §2.5);
    stream-end output equals the batch tumbling aggregate (q23)."""
    from .streaming.runner import stream_tumbling_counts

    return stream_tumbling_counts(spark, sf_dir)


@register(
    "q30_stream_dedup",
    "SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS cnt "
    "FROM events GROUP BY event_type",
)
def q30_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 done right: the source redelivers every tuple twice (the
    reference's retry path) and streaming ``dropDuplicates`` on the
    tuple id restores exactly-once counts."""
    from .streaming.runner import stream_dedup_counts

    return stream_dedup_counts(spark, sf_dir)


@register(
    "q31_stream_sessions",
    """
    WITH lagd AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    marked AS (SELECT user_id, event_id, us,
                      CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS is_new
               FROM lagd),
    sess AS (SELECT user_id, us,
                    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS session_id
             FROM marked)
    SELECT user_id, MIN(us) AS session_start_us, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q31_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30 min gap) — the streaming
    twin of q24's batch sessionization; the oracle recomputes the same
    gap-based sessions with window functions."""
    from .streaming.runner import stream_session_windows

    return stream_session_windows(spark, sf_dir)


@register("q32_stream_stateful_count", None)
def q32_stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``)
    reproducing O9's running count with durable, per-key state.  Not
    SQL-expressible (stateful update-mode semantics) — rows-only check
    here; tests assert stream-end equality with the batch count."""
    from .streaming.runner import stream_stateful_running_count

    return stream_stateful_running_count(spark, sf_dir)


# --------------------------------------------------------------------------
# Relational breadth the reference lacks outright (SURVEY.md §2.5): joins
# beyond 2 tables, rollup, semi/anti, set ops, percentiles, stream-static
# enrichment.  All built-in DataFrame ops — Catalyst picks the physical
# strategy (dimension joins broadcast; facts never shuffle for them).
# --------------------------------------------------------------------------


@register(
    "q33_star_rollup",
    """
    SELECT r_name, n_name,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def q33_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join (orders→customer→nation→region) with ROLLUP subtotals.
    nation/region broadcast always, customer broadcasts at any SF where
    it fits — the fact table never shuffles for a dimension."""
    orders, customer, nation, region = (
        load_table(spark, sf_dir, t) for t in ("orders", "customer", "nation", "region")
    )
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q34_semi_anti_join",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) FILTER (WHERE has_order) AS BIGINT) AS n_with_orders,
           CAST(COUNT(*) FILTER (WHERE NOT has_order) AS BIGINT) AS n_without_orders
    FROM (SELECT c_mktsegment,
                 EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
          FROM customer) t
    GROUP BY c_mktsegment
    """,
)
def q34_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti semantics (customers with vs without orders) per market
    segment in ONE pass: a left-outer join against the distinct order
    keys flags existence, and a conditional aggregate counts both sides
    — each table scanned once (separate semi + anti joins scan both
    tables twice).  Only the key column of orders ships, deduplicated
    map-side before the broadcast."""
    customer = load_table(spark, sf_dir, "customer")
    okeys = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        customer.join(
            F.broadcast(okeys), customer.c_custkey == okeys.o_custkey, "left_outer"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.col("o_custkey")).alias("n_with_orders"),
            F.sum(
                F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
            ).alias("n_without_orders"),
        )
    )


@register(
    "q35_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q35_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``).  At 100 TB swap for
    ``approx_percentile`` (t-digest sketch, mergeable, one pass) — the
    exact form here pins the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p95": 0.95}
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.expr(f"percentile(l_extendedprice, {q})"), 4).alias(name)
            for name, q in pcts.items()
        ]
    )


@register(
    "q36_set_ops",
    """
    SELECT user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'click'
    ) t
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error' AND value > 95
    """,
)
def q36_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: users with a high-value purchase and a click but
    no high-value error (INTERSECT + EXCEPT, each a distinct-aggregated
    join)."""
    ev = load_table(spark, sf_dir, "events")
    big_buy = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 95)
    ).select("user_id")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    big_err = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 95)
    ).select("user_id")
    return big_buy.intersect(clickers).subtract(big_err)


@register(
    "q37_stream_enrich",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events JOIN customer ON c_custkey = user_id + 1
    GROUP BY c_mktsegment
    """,
)
def q37_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the customer
    dimension (broadcast — the stream side never shuffles for it), then
    aggregates per segment; stream-end equals the batch join."""
    from .streaming.runner import run_to_memory_available_now, stream_events

    customer = load_table(spark, sf_dir, "customer")
    src = stream_events(spark, sf_dir)
    enriched = src.join(
        F.broadcast(customer), customer.c_custkey == src.user_id + 1
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    return run_to_memory_available_now(agg)


# --------------------------------------------------------------------------
# SimHash dedup (the third near-dup family: MinHash-LSH q15/q16,
# n-gram Jaccard q17, embedding cosine q18, SimHash q38/q39).
# --------------------------------------------------------------------------

_SIMHASH_BITS = 60
_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_PACK = " + ".join(
    f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(_SIMHASH_BITS)
)
_SQL_SIMHASH = f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
    v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_PACK} AS BIGINT) AS simhash FROM v
"""


@register("q38_simhash_signatures", _SQL_SIMHASH)
def q38_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (md5-derived, tf-weighted bit votes):
    one token explode + one 60-sum hash aggregate; shuffle payload is
    60 longs per doc, never tokens."""
    from .operators.dedup import simhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs)


@register(
    "q39_simhash_neardup",
    f"""
    WITH s AS ({_SQL_SIMHASH}),
    bands AS (SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767 AS band
              FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
             FROM bands a JOIN bands b
               ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def q39_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via 4 x 15-bit band buckets (pigeonhole:
    Hamming <= 3 forces one exact band) + exact Hamming verify — linear
    in corpus + bucket sizes, never all-pairs."""
    from .operators.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, on_overflow="error")


@register(
    "q40_range_join",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM orders
    JOIN lineitem
      ON l_shipdate >= o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 6 DAY
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-03-01' AND TIMESTAMP '1995-03-31'
    GROUP BY o_orderpriority
    """,
)
def q40_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key): shipments within a week of any
    March-1995 order.  Naively this is a nested-loop cross product;
    ``binned_range_join`` quantizes time into window-span buckets and
    hash-joins on the bucket id (each order probes <= 2 buckets), then
    re-checks the exact predicate — linear in rows + matches."""
    from .operators.rangejoin import binned_range_join

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1995-03-01", "1995-03-31"))
        .select("o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate", "l_quantity")
    pairs = binned_range_join(
        orders, li, "o_orderdate", "l_shipdate", 0, 6 * 86400
    )
    return pairs.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "q41_cube_distinct",
    """
    SELECT event_type,
           CAST(date_part('dow', ts) AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY CUBE(event_type, CAST(date_part('dow', ts) AS BIGINT))
    """,
)
def q41_cube_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week) with a distinct-count — the
    full grouping-set lattice the reference has no concept of
    (SURVEY.md §2.5).  Spark expands the cube BEFORE the partial
    aggregate, so the shuffle still carries combined partials per
    grouping set; COUNT(DISTINCT) plans as a two-phase expand-aggregate.
    At 100 TB swap approx_count_distinct (HLL sketch, mergeable, one
    pass) — same plan shape, bounded memory."""
    ev = load_table(spark, sf_dir, "events")
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dow: 0=Sunday..6
    dow = (F.dayofweek("ts") - 1).cast("long")
    return (
        ev.select("event_type", dow.alias("dow"), "user_id", "value")
        .cube("event_type", "dow")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q42_stream_stream_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts,
           CAST(floor(epoch(b.ts)) AS BIGINT) AS purchase_ts,
           ROUND(b.value, 2) AS purchase_value
    FROM events c
    JOIN events b
      ON b.user_id = c.user_id
     AND b.event_type = 'purchase'
     AND b.ts >= c.ts
     AND b.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    """,
)
def q42_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks x purchases within 1 h per
    user), watermark-bounded state on both sides; inner matches emit
    immediately so stream-end equals the batch self-join."""
    from .streaming.runner import stream_stream_click_purchase_join

    return stream_stream_click_purchase_join(spark, sf_dir)


@register(
    "q43_winnowing_fingerprints",
    r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    hs AS (
      SELECT doc_id,
             list_transform(range(1, length(t) - 6),
                            i -> md5(substr(t, i, 8))) AS hs
      FROM norm WHERE length(t) >= 11
    ),
    fps AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, len(hs) - 2),
                              j -> list_min(list_slice(hs, j, j + 3))))) AS fps
      FROM hs
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(list_aggregate(fps, 'string_agg', '')) AS fp_digest
    FROM fps
    """,
)
def q43_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash local sampling): char
    8-gram hashes, window-of-4 minima, distinct-minima digest per doc —
    one scan-side HOF projection, no explode, no shuffle."""
    from .operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs)


# --------------------------------------------------------------------------
# Approximate (sketch) variants — the documented 100 TB swaps for q35 and
# q41, exposed as first-class queries.  Registered WITHOUT oracle SQL by
# design: a t-digest / HLL estimate cannot hash-match an exact oracle, so
# the driver applies its rows-only contract; closeness to the exact
# answer is pinned by tests/test_approx_variants.py instead.
# --------------------------------------------------------------------------


@register("q44_approx_percentiles", None)
def q44_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q35's scale path: ``approx_percentile`` (t-digest-style sketch).
    One pass, mergeable partials, bounded memory per group — the exact
    ``percentile`` holds every value per group in memory, which at
    100 TB is the difference between a sketch merge and an OOM.
    accuracy=10000 → rank error ≤ 1/10000."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p95": 0.95}
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.expr(f"approx_percentile(l_extendedprice, {q}, 10000)"), 4
            ).alias(name)
            for name, q in pcts.items()
        ]
    )


@register("q45_approx_distinct", None)
def q45_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q41's scale path: ``approx_count_distinct`` (HyperLogLog++).
    COUNT(DISTINCT) plans as a two-phase expand + exact de-dup shuffle
    whose state is the distinct keyspace; the HLL sketch replaces that
    with a few KB per group and one ordinary partial-aggregated
    exchange — same cube lattice, bounded memory.  rsd=0.01 → ~1%
    relative error."""
    ev = load_table(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).cast("long")
    return (
        ev.select("event_type", dow.alias("dow"), "user_id", "value")
        .cube("event_type", "dow")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register("q46_ivf_indexed", ORACLE["q28_ivf_ann"])
def q46_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q28's production shape: the IVF cell assignment MATERIALIZED —
    build the index (one pass, written ``partitionBy(cell)``), then
    probe it with a partition filter that prunes at the source.  Same
    codebook, same probe set, same exact rank => same oracle as q28;
    what changes is WHERE the cell filter runs (partition pruning vs a
    row filter over the full scan)."""
    import os
    import tempfile

    from .operators.similarity import build_ivf_index, ivf_topk_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    ]
    qvec = next(c for cid, c in cents if cid == 0)
    key = _dataset_key(sf_dir)
    path = os.path.join(
        tempfile.gettempdir(), f"rs_ivf_index_u{os.getuid()}_{key}"
    )
    build_ivf_index(
        emb, cents, path, source_path=os.path.join(sf_dir, "embeddings.parquet")
    )
    return ivf_topk_indexed(spark, path, qvec, cents, k=10, n_probe=4, exclude_id=0)


@register(
    "q47_rp_lsh_neardup",
    """
    WITH h AS (
      SELECT (vec_id - 16) // 4 AS band, (vec_id - 16) % 4 AS j, embedding AS he
      FROM embeddings WHERE vec_id BETWEEN 16 AND 27),
    dots AS (
      SELECT v.vec_id, h.band, h.j,
             SUM(CAST(v.embedding[s.i] AS DOUBLE) * CAST(h.he[s.i] AS DOUBLE)) AS dp
      FROM embeddings v CROSS JOIN h CROSS JOIN generate_series(1, 64) s(i)
      GROUP BY 1, 2, 3),
    buckets AS (
      SELECT vec_id, band,
             SUM(CASE WHEN dp > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS bkt
      FROM dots GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
    terms AS (
      SELECT c.va, c.vb,
             SUM(CAST(x.embedding[s.i] AS DOUBLE) * CAST(y.embedding[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(x.embedding[s.i] AS DOUBLE) * CAST(x.embedding[s.i] AS DOUBLE)) AS na2,
             SUM(CAST(y.embedding[s.i] AS DOUBLE) * CAST(y.embedding[s.i] AS DOUBLE)) AS nb2
      FROM cand c
      JOIN embeddings x ON x.vec_id = c.va
      JOIN embeddings y ON y.vec_id = c.vb
      CROSS JOIN generate_series(1, 64) s(i)
      GROUP BY 1, 2)
    SELECT va AS vec_a, vb AS vec_b, ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) AS cos_sim
    FROM terms WHERE ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) > 0.4
    """,
)
def q47_rp_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via banded random-hyperplane LSH (3
    bands x 4 sign bits; hyperplanes = embeddings 16..27, data-derived
    so the oracle can reproduce them exactly).  Completes the ANN/dedup
    family: label-blocked (q18), IVF-celled (q28/q46), and now
    data-independent sign-LSH — the bucketing that needs no blocking
    column and no trained codebook."""
    from .operators.similarity import rp_lsh_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    hps = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            (F.col("vec_id") >= 16) & (F.col("vec_id") <= 27)
        ).select("vec_id", "embedding").collect()
    }
    bands = [[(j, hps[16 + 4 * b + j]) for j in range(4)] for b in range(3)]
    return rp_lsh_neardup_pairs(emb, bands, threshold=0.4, on_overflow="error")


@register(
    "q48_asof_tolerance",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    ranked AS (
      SELECT p.event_id, c.event_id AS click_id, c.value AS click_value,
             CAST(floor(epoch(c.ts)) AS BIGINT) AS cts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY floor(epoch(c.ts)) DESC,
                                         c.event_id DESC, c.value DESC) AS rn
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND floor(epoch(c.ts)) <= floor(epoch(p.ts))
       AND floor(epoch(p.ts)) - floor(epoch(c.ts)) <= 3600
    )
    SELECT p.event_id, p.user_id, r.cts AS asof_ts,
           r.click_id AS asof_click_id, r.click_value AS asof_click_value
    FROM p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (event_id)
    """,
)
def q48_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General as-of join with tolerance: each purchase carries the same
    user's most recent click at-or-before it, but only if within 1 hour
    — pandas merge_asof semantics at the union-sort-carry scale shape
    (q26 generalized to carry whole matched rows, bounded by a tolerance
    window).  The fixture yields BOTH matched and unmatched purchases
    (33 / 1981 at sf0.01), so the oracle hash pins the tolerance cut
    itself, not just the carry (round-2 review: the previous
    orders-based fixture matched zero rows and proved nothing)."""
    from .operators.windows import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["click_id", "click_value"],
        direction="backward",
        tolerance_s=3600,
    ).select("event_id", "user_id", "asof_ts", "asof_click_id", "asof_click_value")


@register(
    "q49_stratified_sample",
    """
    WITH d AS (
      SELECT doc_id, lang,
             substr(md5('s1' || '|' || CAST(doc_id AS VARCHAR)), 1, 28) AS draw
      FROM documents),
    r AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY draw ASC, doc_id ASC) AS BIGINT) AS rk
      FROM d)
    SELECT doc_id, lang, rk FROM r WHERE rk <= 40
    """,
)
def q49_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-40-per-language uniform sample of the corpus — the
    deterministic eval-split / per-domain curation operator.  Hash-order
    ranking means retries and re-runs emit the identical sample, and
    WindowGroupLimit keeps the shuffle at <= k rows per stratum per
    task."""
    from .operators.sampling import stratified_fixed_k

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_fixed_k(docs, ["lang"], k=40, id_col="doc_id", out_rank="rk")
    return out.select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))


def _q50_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    thr = fraction_threshold_hex(0.1)
    return f"""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE substr(md5('mix1' || '|' || CAST(event_id AS VARCHAR)), 1, 28) < '{thr}'
    """


@register("q50_bernoulli_sample", None)
def q50_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample of the event stream (corpus
    down-sampling): a scan-side md5-threshold filter — no shuffle, no
    rand(), membership stable under retries and repartitioning."""
    from .operators.sampling import bernoulli_sample

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return bernoulli_sample(ev, 0.1, id_col="event_id", seed="mix1")


ORACLE["q50_bernoulli_sample"] = _q50_sql()


@register(
    "q51_decontamination",
    f"""
    WITH g AS ({_SQL_SHINGLE3}),
    corpus AS (SELECT doc_id, shingle FROM g WHERE doc_id >= 20),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY 1),
    bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id < 20),
    hits AS (SELECT c.doc_id, COUNT(*) AS n_overlap
             FROM corpus c JOIN bench b USING (shingle) GROUP BY 1)
    SELECT h.doc_id, CAST(h.n_overlap AS BIGINT) AS n_overlap,
           ROUND(h.n_overlap * 1.0 / s.n_grams, 6) AS overlap_ratio
    FROM hits h JOIN sizes s USING (doc_id)
    WHERE ROUND(h.n_overlap * 1.0 / s.n_grams, 6) >= 0.2
    """,
)
def q51_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (id >= 20) sharing >= 20%
    of their 3-gram set with the benchmark docs (id < 20).  The
    benchmark gram set broadcasts; the corpus is never shuffled for the
    join — the eval-leakage gate every training pipeline needs."""
    from .operators.contamination import contamination_overlap

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    return contamination_overlap(corpus, bench, min_ratio=0.2)


@register(
    "q52_repetition_ratio",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
          FROM t WHERE len(toks) >= 2),
    pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(MAX(c) AS BIGINT) AS top_gram_count,
           ROUND(MAX(c) * 1.0 / SUM(c), 6) AS repetition_ratio
    FROM pg GROUP BY doc_id
    """,
)
def q52_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: per doc, the fraction of all
    bigrams accounted for by the single most frequent bigram (duplicated
    grams included — repetition IS the signal).  Two partial-aggregated
    exchanges; boilerplate/looping text scores high."""
    from .operators.contamination import repetition_ratio

    docs = load_table(spark, sf_dir, "documents")
    return repetition_ratio(docs, k=2)


@register(
    "q53_hopping_window",
    """
    WITH x AS (SELECT epoch(ts) AS t, event_type, value FROM events),
    w AS (
      SELECT (CAST(floor(t / 1800) AS BIGINT) - u.k) * 1800 AS window_start,
             event_type, value
      FROM x CROSS JOIN (SELECT unnest([0, 1]) AS k) u)
    SELECT CAST(window_start AS BIGINT) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def q53_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 1 h width, 30 min slide — each event
    lands in exactly width/slide = 2 overlapping windows.  Spark's
    ``window(ts, width, slide)`` expands assignments map-side
    (a Generate, no bucketize shuffle); the single exchange carries
    partial aggregates per (window, key).  The streaming twin adds only
    a watermark."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q54_pivot",
    """
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           """
    + ",\n           ".join(
        f"ROUND(SUM(CASE WHEN event_type = '{t}' THEN value END), 2) AS {t}"
        for t in _PIVOT_TYPES
    )
    + """
    FROM events GROUP BY 1
    """,
)
def q54_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: day-of-week rows x event-type columns, summed value.
    Spark lowers an explicit-values pivot to ONE pass of conditional
    aggregates (exactly the oracle's CASE WHEN form) — listing the
    values avoids the extra distinct-scan job implicit pivots run.
    DuckDB dayofweek = 0..6 Sun-start; Spark dayofweek is 1..7, so the
    Spark side shifts by one to agree."""
    ev = load_table(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).cast("long")
    return (
        ev.select(dow.alias("dow"), "event_type", "value")
        .groupBy("dow")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.round(F.sum("value"), 2))
    )


@register("q55_stream_hopping", ORACLE["q53_hopping_window"])
def q55_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q53 as a stream: watermarked hopping windows drained with
    AvailableNow — stream-end state equals the batch hopping aggregate
    (same oracle)."""
    from .streaming.runner import stream_hopping_counts

    return stream_hopping_counts(spark, sf_dir)


@register(
    "q56_dedup_components",
    None,  # placeholder; real SQL assigned below (needs q16's SQL inline)
)
def q56_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise candidates: connected components
    over q16's LSH candidate pairs (A~B, B~C collapse into one cluster
    even when A~C was never emitted) — the iterative-fixpoint pattern
    (driver loop, localCheckpoint lineage truncation, distributed
    convergence check).  cluster_id = min reachable doc id, so the
    result is deterministic and a recursive-CTE oracle reproduces it."""
    from .operators.dedup import lsh_candidate_pairs
    from .operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, on_overflow="error")
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("cluster_id").cast("long").alias("cluster_id")
    )


ORACLE["q56_dedup_components"] = f"""
    WITH RECURSIVE pairs AS ({ORACLE["q16_lsh_candidates"]}),
    sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT node, node AS lab FROM (SELECT DISTINCT s AS node FROM sym) t
      UNION
      SELECT sym.s AS node, reach.lab FROM sym JOIN reach ON reach.node = sym.d
    )
    SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY 1
    """


@register(
    "q57_dedup_against_corpus",
    r"""
    WITH fp AS (SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
                FROM documents)
    SELECT f.doc_id, f.fingerprint
    FROM fp f
    WHERE f.doc_id >= 250
      AND f.fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id < 250)
    """,
)
def q57_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the 'new batch' (doc_id >= 250)
    anti-joined against the already-ingested corpus's fingerprints
    (doc_id < 250) — a LEFT ANTI join on 32-byte hashes, the
    streaming-ingest posture for exact dedup at 100 TB."""
    from .operators.dedup import dedup_against, fingerprint

    docs = load_table(spark, sf_dir, "documents")
    seen = fingerprint(docs.filter(F.col("doc_id") < 250))
    new = docs.filter(F.col("doc_id") >= 250)
    return dedup_against(new, seen).select("doc_id", "fingerprint")


def _q58_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    t80, t90 = fraction_threshold_hex(0.8), fraction_threshold_hex(0.9)
    return f"""
    WITH d AS (SELECT doc_id, lang,
                      substr(md5('split1' || '|' || CAST(doc_id AS VARCHAR)), 1, 28) AS draw
               FROM documents),
    a AS (SELECT lang,
                 CASE WHEN draw < '{t80}' THEN 'train'
                      WHEN draw < '{t90}' THEN 'val'
                      ELSE 'test' END AS split
          FROM d)
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY 1, 2
    """


@register("q58_split_assign", None)
def q58_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment (per-(split,
    lang) counts): each doc's split is decided by its md5 draw — stable
    under retries, repartitioning, and corpus growth, so eval sets stay
    uncontaminated across dataset versions.  Scan-side projection +
    one partial-aggregated count exchange."""
    from .operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    assigned = split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id", seed="split1"
    )
    return assigned.groupBy("split", "lang").agg(F.count("*").alias("n"))


ORACLE["q58_split_assign"] = _q58_sql()


@register(
    "q59_bm25_search",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    posting AS (SELECT doc_id, dl, unnest(toks) AS term FROM dl),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM posting
           WHERE term IN ('data', 'stream', 'processing') GROUP BY 1, 2, 3),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1)
    SELECT doc_id,
           ROUND(SUM(ln((s.n_docs - df_t + 0.5) / (df_t + 0.5) + 1)
                     * tf * (1.2 + 1)
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / s.avgdl))), 6) AS bm25
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
)
def q59_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword relevance search: top-10 docs for the query
    'data stream processing' by BM25 (k1=1.2, b=0.75) — the lexical
    counterpart to q13/q28/q46's embedding retrieval.  Postings for
    non-query terms are filtered at the explode; document frequencies
    and corpus stats broadcast back; top-k is a TakeOrdered."""
    from .operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["data", "stream", "processing"], k=10)


@register(
    "q60_pii_redaction",
    r"""
    WITH r AS (SELECT doc_id,
                      CAST(len(regexp_extract_all(text, '\b(?:hash|merge|slow)\b')) AS BIGINT)
                        AS n_blocked,
                      regexp_replace(text, '\b(?:hash|merge|slow)\b', '[BLOCKED]', 'g')
                        AS redacted
               FROM documents)
    SELECT doc_id, n_blocked, redacted FROM r WHERE n_blocked > 0
    """,
)
def q60_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction stage: scrub a term blocklist from every document,
    keeping docs that were touched with an audit count of masks
    written.  The operator (``regex_redact``) is the general sequential
    count-and-mask engine — the standard PII patterns (email / phone /
    IPv4, ``text.PII_PATTERNS``) run through the same path and are
    pinned by unit tests on a constructed fixture, since the synthetic
    corpus contains no digits.  ONE scan-side codegen projection: no
    shuffle, no UDF."""
    from .operators.text import blocklist_pattern, regex_redact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    red = regex_redact(docs, {"blocked": blocklist_pattern(["hash", "merge", "slow"])})
    return red.filter(F.col("n_blocked") > 0).select("doc_id", "n_blocked", "redacted")


@register(
    "q61_sequence_packing",
    f"""
    WITH t AS (SELECT doc_id, lang,
                      ('0x' || substr(md5('shard1' || '|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                        % 4 AS shard,
                      len({_SQL_TOKS}) AS n_tokens
               FROM documents),
    c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS pre_cum
          FROM t)
    SELECT lang, shard, CAST(FLOOR(pre_cum / 512.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY 1, 2, 3
    """,
)
def q61_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (one 512-token context per pack):
    greedy contiguous fill within (lang, md5-shard) in doc_id order,
    reported per pack.  The shard column bounds every window partition
    — the property that keeps the in-partition sort a single task's
    buffer at 100 TB instead of a whole language.  ONE exchange
    (hash by lang+shard), running-sum window, partial-agg rollup."""
    from .operators.packing import pack_sequences
    from .operators.sampling import shard_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        shard_col("doc_id", 4, seed="shard1"),
        F.size(tokenize("text")).alias("n_tokens"),
    )
    packed = pack_sequences(
        t, budget=512, token_col="n_tokens", order_col="doc_id", group_cols=["lang", "shard"]
    )
    return packed.groupBy("lang", "shard", "pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens")
    )


@register("q62_bm25_indexed", None)
def q62_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q59's production shape: the inverted index MATERIALIZED — build
    term-sharded postings + dfreq + corpus stats once (written
    ``partitionBy(shard)``), then probe reading ONLY the query terms'
    shard partitions (pruned at the source listing).  Same score, same
    ties => same oracle as q59; what changes is WHERE the term filter
    runs (partition pruning vs a full-corpus explode).  Like q46, the
    first call pays the build; a completed index at the keyed path is
    reused via its manifest (build-once/probe-many), so steady-state
    timings measure the probe — the production shape."""
    import os
    import tempfile

    from .operators.text import bm25_topk_indexed, build_bm25_index

    docs = load_table(spark, sf_dir, "documents")
    key = _dataset_key(sf_dir)
    path = os.path.join(tempfile.gettempdir(), f"rs_bm25_index_u{os.getuid()}_{key}")
    build_bm25_index(
        docs, path, source_path=os.path.join(sf_dir, "documents.parquet")
    )
    return bm25_topk_indexed(spark, path, ["data", "stream", "processing"], k=10)


ORACLE["q62_bm25_indexed"] = ORACLE["q59_bm25_search"]


def _q63_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    en, fr, default = (
        fraction_threshold_hex(0.25),
        fraction_threshold_hex(0.5),
        fraction_threshold_hex(1.0),
    )
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5('mix2' || '|' || CAST(doc_id AS VARCHAR)), 1, 28) <
          CASE lang WHEN 'en' THEN '{en}' WHEN 'fr' THEN '{fr}' ELSE '{default}' END
    """


@register("q63_mixture_sample", None)
def q63_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: per-language deterministic Bernoulli resampling —
    flatten dominant English to 25%, French to 50%, keep the rest —
    ONE scan-side CASE-threshold filter on the shared md5 draw (zero
    exchanges, plan-pinned).  ``temperature_rates`` computes such a
    rate table from group counts and a temperature alpha (the
    multilingual n^alpha formula, unit-pinned); the query pins the
    mixture filter itself with fixed rates so the oracle is
    scale-independent."""
    from .operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(
        docs, {"en": 0.25, "fr": 0.5}, group_col="lang", id_col="doc_id", seed="mix2"
    )


ORACLE["q63_mixture_sample"] = _q63_sql()


def _q64_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    half = fraction_threshold_hex(0.5)
    return f"""
    WITH d AS (SELECT doc_id, lang,
                      substr(md5('rep1' || '|' || CAST(doc_id AS VARCHAR)), 1, 28) AS draw
               FROM documents),
    n AS (SELECT doc_id, lang,
                 CASE lang
                   WHEN 'fr' THEN 2 + CASE WHEN draw < '{half}' THEN 1 ELSE 0 END
                   WHEN 'zh' THEN CASE WHEN draw < '{half}' THEN 1 ELSE 0 END
                   ELSE 1
                 END AS n_copies
          FROM d)
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS epoch
    FROM n WHERE n_copies >= 1
    """


@register("q64_epoch_upsampling", None)
def q64_epoch_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsampling half of data mixing: repeat French docs 2.5x (twice
    each + an unbiased md5-decided half a third time), thin Chinese to
    0.5x, keep the rest — every copy tagged with its epoch number for
    the training shuffle.  Scan-side explode(sequence(...)), no
    shuffle, retry/repartition-stable (plan-pinned)."""
    from .operators.sampling import repeat_rows

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return repeat_rows(
        docs, {"fr": 2.5, "zh": 0.5}, group_col="lang", id_col="doc_id", seed="rep1"
    )


ORACLE["q64_epoch_upsampling"] = _q64_sql()


def _q65_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    half = fraction_threshold_hex(0.5)
    t_train, t_val = fraction_threshold_hex(0.9), fraction_threshold_hex(0.95)
    return rf"""
    WITH fp AS (SELECT doc_id, lang, text,
                       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
                FROM documents),
    surv AS (SELECT doc_id, lang, text FROM
               (SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rk
                FROM fp) WHERE rk = 1),
    tok AS (SELECT doc_id, lang, len({_SQL_TOKS}) AS n_tokens FROM surv),
    qual AS (SELECT * FROM tok WHERE n_tokens >= 10),
    mix AS (SELECT * FROM qual
            WHERE substr(md5('mixP' || '|' || CAST(doc_id AS VARCHAR)), 1, 28) <
                  CASE lang WHEN 'en' THEN '{half}' ELSE 'g' END),
    spl AS (SELECT *, CASE
              WHEN substr(md5('splitP' || '|' || CAST(doc_id AS VARCHAR)), 1, 28) < '{t_train}'
                THEN 'train'
              WHEN substr(md5('splitP' || '|' || CAST(doc_id AS VARCHAR)), 1, 28) < '{t_val}'
                THEN 'val'
              ELSE 'test' END AS split
            FROM mix),
    sh AS (SELECT *, ('0x' || substr(md5('packshard' || '|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                     % 2 AS shard
           FROM spl),
    c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY split, lang, shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS pre_cum
          FROM sh)
    SELECT split, lang, shard, CAST(FLOOR(pre_cum / 256.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY 1, 2, 3, 4
    """


@register("q65_curation_pipeline", None)
def q65_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: a complete corpus-curation pipeline —
    exact dedup (keep-min per fingerprint) -> quality gate (>= 10
    tokens) -> mixture downsampling (en to 50%) -> 90/5/5 split
    assignment -> token-budget packing (256/pack within (split, lang,
    shard)) -> per-pack report.  One declarative plan: the dedup
    window's top-1 gets WindowGroupLimit, the scan-side stages fuse
    into projections, and the pack window's exchange is reused by the
    rollup — 2 exchanges for a 6-stage pipeline (plan-pinned).  This is
    the query a reference user actually ships a training corpus with."""
    from pyspark.sql import Window

    from .operators.dedup import fingerprint
    from .operators.packing import pack_sequences
    from .operators.sampling import mixture_sample, shard_col, split_assign

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    surv = (
        fingerprint(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    qual = surv.select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") >= 10)
    mixed = mixture_sample(qual, {"en": 0.5}, group_col="lang", id_col="doc_id", seed="mixP")
    split = split_assign(
        mixed, {"train": 0.9, "val": 0.05, "test": 0.05}, id_col="doc_id", seed="splitP"
    )
    sharded = split.select("*", shard_col("doc_id", 2, seed="packshard"))
    packed = pack_sequences(
        sharded, budget=256, token_col="n_tokens", order_col="doc_id",
        group_cols=["split", "lang", "shard"],
    )
    return packed.groupBy("split", "lang", "shard", "pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens")
    )


ORACLE["q65_curation_pipeline"] = _q65_sql()


@register(
    "q66_rolling_window",
    """
    WITH e AS (SELECT event_id, user_id, value,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           ROUND(sum(value) OVER w, 6) AS sum_value_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q66_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling event-time aggregate: for EVERY event, the count
    and value-sum of that user's events in the preceding hour — a RANGE
    frame (event-time distance), not a ROWS frame, so simultaneous
    events land in each other's windows regardless of order.  The
    feature-engineering / rate-limiting staple the tumbling window
    (q23) cannot express (q23 buckets; this slides per row).

    Scale shape: one exchange on user_id, per-user sort, single pass
    with a sliding frame — same posture (and same power-user skew
    hazards + mitigations) as sessionization (q24).  Seconds
    granularity (``unix_timestamp``) so the oracle's integer RANGE
    frame agrees exactly."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", "value",
        F.unix_timestamp("ts").cast("long").alias("sec"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 6).alias("sum_value_hour"),
    )


@register(
    "q67_cdc_upsert",
    """
    WITH latest AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    u AS (SELECT user_id * 20 + 1 AS key, ROUND(value, 2) AS new_bal,
                 'cdc#' || CAST(user_id AS VARCHAR) AS new_name
          FROM latest)
    SELECT COALESCE(c.c_custkey, u.key) AS c_custkey,
           COALESCE(c.c_name, u.new_name) AS c_name,
           CASE WHEN u.key IS NOT NULL THEN u.new_bal
                ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN c.c_custkey IS NOT NULL AND u.key IS NOT NULL THEN 'update'
                WHEN c.c_custkey IS NULL THEN 'insert'
                ELSE 'keep' END AS op
    FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.key
    """,
)
def q67_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC application: merge a change batch (each user's LATEST event
    value, latest-wins ranked deterministically) into the customer dim
    — update the balance where the key exists, insert a seeded row
    where it doesn't, keep the rest, each row op-tagged.  The in-place
    update verb the reference's append-only HyDFS lacks entirely
    (``FileSystem.java`` has create/append/merge-compaction only).

    Shape: one latest-wins rank on the feed + ONE full-outer sort-merge
    join — exactly what a lakehouse MERGE INTO compiles to
    (:mod:`operators.cdc`).  The key mapping (user_id*20+1) makes both
    paths real at test scale: ~75 updates + ~75 inserts at sf0.01."""
    from pyspark.sql import Window

    from .operators.cdc import apply_upsert

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        ev.select("user_id", "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    updates = latest.select(
        (F.col("user_id") * 20 + 1).alias("c_custkey"),
        F.round("value", 2).alias("new_bal"),
        F.concat(F.lit("cdc#"), F.col("user_id").cast("string")).alias("new_name"),
    )
    return apply_upsert(
        cust,
        updates,
        key_cols=["c_custkey"],
        set_cols={"c_acctbal": "new_bal"},
        insert_only_cols={"c_name": "new_name"},
    )


@register(
    "q68_unigram_logprob",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    freq AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           ROUND(avg(ln(tf / n)), 6) AS avg_logprob
    FROM toks JOIN freq USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q68_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring: each document's mean unigram
    log-probability under the corpus's own term distribution — the
    classic cheap perplexity proxy for corpus filtering (docs of rare
    gibberish score low, template boilerplate scores high).  Zero-token
    docs drop (no tokens to score).

    THIS IS THE SELF-CONTAINED DEMONSTRATION FORM (three scans of the
    text: tokens, frequencies, totals).  The default at scale is
    INDEX-FIRST: ``q74_unigram_logprob_indexed`` computes the same
    scores entirely from the materialized BM25 postings (zero corpus
    re-reads), and ``operators.text.unigram_logprob(freq_table=...)``
    scores any NEW batch of documents against the index-derived corpus
    LM (``term_frequencies_from_postings``) in O(batch) — build the
    index once, score forever (``tests/test_unigram_index_reuse.py``
    pins all three paths to identical scores)."""
    from .operators.text import unigram_logprob

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "q69_stream_cdc_upsert",
    """
    WITH latest AS (
      SELECT user_id, value, ts, event_id FROM (
        SELECT user_id, value, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    u AS (SELECT user_id * 20 + 1 AS key, ROUND(value, 2) AS new_bal,
                 'cdc#' || CAST(user_id AS VARCHAR) AS new_name,
                 ts, event_id
          FROM latest)
    SELECT COALESCE(c.c_custkey, u.key) AS c_custkey,
           COALESCE(c.c_name, u.new_name) AS c_name,
           CASE WHEN u.key IS NOT NULL THEN u.new_bal
                ELSE c.c_acctbal END AS c_acctbal,
           CAST(epoch_us(u.ts) AS BIGINT) AS ver_ts_us,
           u.event_id AS ver_event_id
    FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.key
    """,
)
def q69_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q67's streaming form: the change feed arrives as micro-batches
    WITH REDELIVERY (the events file staged twice, one file per
    trigger), and ``foreachBatch`` applies each batch to a parquet
    target via the versioned idempotent merge — the strictly-newer
    version gate makes the duplicate batch a no-op, so at-least-once
    delivery composes into an exactly-once final state (the oracle:
    every user's latest event applied once, version ledger recorded).
    Sink-side dedup with a durable ledger — the counterpart of q30's
    state-store dedup, and the pattern a production CDC consumer
    actually runs."""
    from .streaming.runner import stream_cdc_upsert

    return stream_cdc_upsert(spark, sf_dir)


@register(
    "q70_json_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           ROUND(avg(CAST(json_extract(props, '$.k') AS INTEGER)), 6) AS avg_k,
           CAST(min(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q70_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured ``props`` column:
    ``from_json`` with an EXPLICIT schema (never schema inference — at
    100 TB an inference pass is a full extra scan) parses the payload
    inside whole-stage codegen, then an ordinary partial-aggregated
    rollup per event type.  The pattern every event pipeline needs:
    typed access to the loosely-typed tail of the schema without a
    second storage format."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "q71_doc_chunking",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks,
                 unnest(range(0, greatest(1, CAST(ceil((n - 64) * 1.0 / 48)
                                               AS BIGINT) + 1))) AS chunk_id
          FROM n)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' '))
             AS chunk_hash
    FROM c
    """,
)
def q71_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document split into 64-token
    windows with stride 48 (16 tokens of overlap), each chunk
    content-hashed — the corpus->training-sample prep stage between
    curation (q65) and packing (q61).  One scan-side explode, zero
    exchanges (plan-pinned): chunking 100 TB is one pass at scan
    speed."""
    from .operators.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    c = chunk_tokens(docs, chunk=64, stride=48)
    return c.select(
        "doc_id",
        "chunk_id",
        F.size("chunk_toks").cast("long").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", "chunk_toks")).alias("chunk_hash"),
    )


@register(
    "q72_corpus_report",
    rf"""
    WITH fp AS (
      SELECT doc_id, lang, source, len({_SQL_TOKS}) AS n_toks,
             row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               ORDER BY doc_id) AS rk
      FROM documents)
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           ROUND(avg(n_toks), 6) AS avg_tokens,
           CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN n_toks < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
    FROM fp GROUP BY lang, source
    """,
)
def q72_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card: per (lang, source) — doc and token counts, mean
    length, exact-duplicate count (non-canonical rows under the
    normalized fingerprint), and short-doc count.  The report a corpus
    release ships next to the shards, and the observability query every
    curation run (q65) ends with.

    Shape: fingerprint rank (WindowGroupLimit does NOT apply — every
    row is kept, only ranked) + one partial-aggregated rollup; the
    token count rides the scan projection."""
    from pyspark.sql import Window

    from .operators.dedup import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    ranked = fingerprint(docs).select(
        "lang",
        "source",
        F.size(tokenize("text")).alias("n_toks"),
        F.row_number().over(w).alias("rk"),
    )
    return ranked.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.round(F.avg("n_toks"), 6).alias("avg_tokens"),
        F.sum(F.when(F.col("rk") > 1, 1).otherwise(0)).cast("long").alias("n_dup"),
        F.sum(F.when(F.col("n_toks") < 10, 1).otherwise(0)).cast("long").alias("n_short"),
    )


@register(
    "q73_time_partitioned_scan",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(sum(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY event_type
    """,
)
def q73_time_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One day's rollup over the events table in its production
    layout: materialized partitioned-by-date
    (``catalog.build_time_partitioned``, idempotent like the IVF/BM25
    indexes), probed with a date filter that prunes at the source
    listing — reading 1 of 30 days scans ~1/30th of the bytes
    (plan-pinned: ``PartitionFilters: [event_date = 2024-01-15]``).
    Same answer as filtering the flat table (the oracle); what changes
    is how many bytes a time-bounded query touches at 100 TB."""
    import os as _os
    import tempfile as _tempfile

    from .sources.catalog import build_time_partitioned

    ev = load_table(spark, sf_dir, "events")
    key = _dataset_key(sf_dir)
    path = _os.path.join(
        _tempfile.gettempdir(), f"rs_events_bydate_u{_os.getuid()}_{key}"
    )
    build_time_partitioned(
        ev, path, source_path=_os.path.join(sf_dir, "events.parquet")
    )
    day = spark.read.parquet(path).filter(
        F.col("event_date") == F.lit("2024-01-15").cast("date")
    )
    return day.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


@register("q74_unigram_logprob_indexed", None)
def q74_unigram_logprob_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q68's production shape: the LM quality score computed ENTIRELY
    from the materialized postings index (shared with q62 — built once,
    manifest-reused).  The postings row (doc, term, tf) already carries
    everything: corpus term frequency = sum(tf) per term, total tokens
    = sum of those, per-doc score = sum(tf * ln(ctf/N)) / sum(tf) —
    identical to q68's per-token average, so it pins against q68's
    oracle.  The corpus is re-tokenized ZERO times: q68's three text
    scans become index reads, which is how a production pipeline scores
    new batches (probe the index, never re-read the corpus)."""
    import os as _os
    import tempfile as _tempfile

    from .operators.text import build_bm25_index, term_frequencies_from_postings

    docs = load_table(spark, sf_dir, "documents")
    key = _dataset_key(sf_dir)
    path = _os.path.join(_tempfile.gettempdir(), f"rs_bm25_index_u{_os.getuid()}_{key}")
    build_bm25_index(
        docs, path, source_path=_os.path.join(sf_dir, "documents.parquet")
    )
    post = spark.read.parquet(f"{path}/postings").select("doc_id", "term", "tf")
    ctf = term_frequencies_from_postings(spark, path)
    tot = ctf.agg(F.sum("ctf").alias("n"))
    return (
        post.join(ctf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("ctf") / F.col("n"))) / F.sum("tf"),
                6,
            ).alias("avg_logprob"),
        )
    )


ORACLE["q74_unigram_logprob_indexed"] = ORACLE["q68_unigram_logprob"]


@register(
    "q75_salted_agg",
    """
    SELECT event_type,
           CAST(count(event_id) AS BIGINT) AS count_event_id,
           ROUND(sum(value), 2) AS sum_value,
           CAST(max(user_id) AS BIGINT) AS max_user_id
    FROM events GROUP BY event_type
    """,
)
def q75_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation: the two-phase salted group-by
    (``operators/skew.py``) — phase 1 on (key, salt) spreads a mega-key
    over 16 tasks, phase 2 re-combines n_salt partials per key.  The
    oracle is the PLAIN aggregate: salting must be a drop-in
    replacement (same counts, same sums, count(col) null semantics),
    which is exactly what makes it safe to deploy on the skewed keys
    AQE cannot split (a single hash-aggregate key)."""
    from .operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev, ["event_type"], {"event_id": "count", "value": "sum", "user_id": "max"}
    )
    return out.select(
        "event_type",
        F.col("count_event_id").cast("long").alias("count_event_id"),
        F.round("sum_value", 2).alias("sum_value"),
        F.col("max_user_id").cast("long").alias("max_user_id"),
    )


@register(
    "q76_image_decode",
    """
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
    b AS (SELECT doc_id,
                 avg(('0x' || substr(hx, 2 * s.i - 1, 2))::BIGINT) AS m
          FROM h CROSS JOIN generate_series(1, 16) s(i) GROUP BY doc_id)
    SELECT doc_id, CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels, ROUND(m, 6) AS mean_luma
    FROM b
    """,
)
def q76_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, driver-verified: each document gets a 4x4
    grayscale PGM payload whose pixels are the 16 bytes of
    ``unhex(md5(text))`` — built as a JVM binary projection — then the
    pure-numpy codec (``multimodal.real_decode``) decodes actual pixels
    in the Arrow mapInPandas stage and reports dimensions + mean
    luminance.  The oracle recomputes the mean from the same md5 bytes
    in SQL, so a hash match proves the DECODER (header parse, raster
    layout, mean) — not a fake.  The division by 16 = 2^4 is exact in
    binary floating point, so rounding agrees bit-for-bit."""
    from .operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents")
    header = "P5\n4 4\n255\n".encode()
    payloads = docs.select(
        "doc_id",
        F.concat(F.lit(header), F.unhex(F.md5("text"))).alias("payload"),
    )
    return extract_image_features(payloads).select(
        "doc_id", "width", "height", "channels", "mean_luma"
    )


@register(
    "q77_pq_ann",
    """
    WITH ms AS (SELECT unnest(range(0, 8)) AS m),
    ks AS (SELECT unnest(range(0, 16)) AS k),
    dists AS (
      SELECT v.vec_id, mm.m, kk.k,
             SUM(POW(CAST(v.embedding[mm.m * 8 + s.i] AS DOUBLE)
                     - CAST(c.embedding[mm.m * 8 + s.i] AS DOUBLE), 2)) AS d
      FROM embeddings v
      CROSS JOIN ms mm CROSS JOIN ks kk
      JOIN embeddings c ON c.vec_id = 32 + kk.k
      CROSS JOIN generate_series(1, 8) s(i)
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d ASC, k ASC) AS rn
        FROM dists) WHERE rn = 1),
    est AS (
      SELECT c.vec_id, SUM(q.d) AS dist_est
      FROM codes c
      JOIN dists q ON q.vec_id = 0 AND q.m = c.m AND q.k = c.code
      GROUP BY 1)
    SELECT vec_id, ROUND(dist_est, 6) AS adc_dist
    FROM est WHERE vec_id <> 0
    ORDER BY dist_est ASC, vec_id ASC LIMIT 10
    """,
)
def q77_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: every 64-dim vector compresses to 8
    one-byte codes (8 subspaces x 16 centroids; codebooks = the
    subspace slices of embeddings 32..47, data-derived so the oracle
    re-derives them exactly), then the query scores vectors by ADC —
    8 lookup-adds against a driver-side LUT, never touching the float
    vectors.  Completes the ANN family: brute force (q13) is exact,
    IVF (q28/q46) prunes WHERE to look, PQ compresses WHAT is scanned;
    IVF-PQ composed is the standard 10^11-vector layout (compose
    ``pq_encode`` with ``build_ivf_index``'s partitioner).  The oracle
    replays encode + ADC in SQL — a hash match proves codes, LUT, and
    the estimated-distance ranking."""
    from .operators.similarity import pq_adc_topk, pq_encode, pq_lut

    emb = load_table(spark, sf_dir, "embeddings")
    rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            (F.col("vec_id") == 0)
            | ((F.col("vec_id") >= 32) & (F.col("vec_id") < 48))
        ).collect()
    }
    codebooks = [
        [rows[32 + k][m * 8 : (m + 1) * 8] for k in range(16)] for m in range(8)
    ]
    encoded = pq_encode(emb, codebooks)
    return pq_adc_topk(encoded, pq_lut(rows[0], codebooks), k=10, exclude_id=0)


@register(
    "q78_ivfpq_ann",
    """
    WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    vc AS (
      SELECT v.vec_id, c.cid,
             SUM(CAST(v.embedding[s.i] AS DOUBLE) * CAST(c.ce[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(v.embedding[s.i] AS DOUBLE) * CAST(v.embedding[s.i] AS DOUBLE)) AS nv,
             SUM(CAST(c.ce[s.i] AS DOUBLE) * CAST(c.ce[s.i] AS DOUBLE)) AS nc
      FROM embeddings v CROSS JOIN c CROSS JOIN generate_series(1, 64) s(i)
      GROUP BY 1, 2),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cid ASC) AS rn
        FROM vc) WHERE rn = 1),
    qcos AS (
      SELECT c.cid,
             SUM(CAST(c.ce[s.i] AS DOUBLE) * CAST(q.qe[s.i] AS DOUBLE))
               / (sqrt(SUM(CAST(c.ce[s.i] AS DOUBLE) * CAST(c.ce[s.i] AS DOUBLE)))
                  * sqrt(SUM(CAST(q.qe[s.i] AS DOUBLE) * CAST(q.qe[s.i] AS DOUBLE)))) AS qc
      FROM c CROSS JOIN q CROSS JOIN generate_series(1, 64) s(i) GROUP BY c.cid),
    probe AS (SELECT cid FROM (SELECT cid, row_number() OVER (ORDER BY qc DESC, cid ASC) AS rn
                               FROM qcos) t WHERE rn <= 4),
    ms AS (SELECT unnest(range(0, 8)) AS m),
    ks AS (SELECT unnest(range(0, 16)) AS k),
    dists AS (
      SELECT v.vec_id, mm.m, kk.k,
             SUM(POW(CAST(v.embedding[mm.m * 8 + s.i] AS DOUBLE)
                     - CAST(cb.embedding[mm.m * 8 + s.i] AS DOUBLE), 2)) AS d
      FROM embeddings v
      CROSS JOIN ms mm CROSS JOIN ks kk
      JOIN embeddings cb ON cb.vec_id = 32 + kk.k
      CROSS JOIN generate_series(1, 8) s(i)
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d ASC, k ASC) AS rn
        FROM dists) WHERE rn = 1),
    est AS (
      SELECT cdz.vec_id, SUM(qd.d) AS dist_est
      FROM codes cdz
      JOIN dists qd ON qd.vec_id = 0 AND qd.m = cdz.m AND qd.k = cdz.code
      GROUP BY 1)
    SELECT est.vec_id, ROUND(est.dist_est, 6) AS adc_dist
    FROM est
    WHERE est.vec_id <> 0
      AND est.vec_id IN (SELECT vec_id FROM cells
                         WHERE cell IN (SELECT cid FROM probe))
    ORDER BY est.dist_est ASC, est.vec_id ASC LIMIT 10
    """,
)
def q78_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed — the standard web-scale ANN layout: the
    materialized IVF index (shared with q46, manifest-reused) prunes
    WHERE to look (4 of 16 cell partitions, pruned at the source
    listing), and PQ-ADC scores WHAT remains (8 lookup-adds per
    candidate).  At 10^11 vectors this is the only shape that fits:
    partition pruning bounds the scan, code compression bounds the
    bytes; production stores the codes IN the index so the probe never
    touches a float vector (here they are derived on the pruned
    candidates — same result, one extra projection).  The oracle
    replays cell assignment, probe selection, encode, and ADC in SQL."""
    import os as _os
    import tempfile as _tempfile

    from .operators.similarity import (
        _probe_cells,
        build_ivf_index,
        pq_adc_topk,
        pq_encode,
        pq_lut,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 48).collect()
    }
    cents = [(i, rows[i]) for i in range(16)]
    qvec = rows[0]
    codebooks = [
        [rows[32 + k][m * 8 : (m + 1) * 8] for k in range(16)] for m in range(8)
    ]
    key = _dataset_key(sf_dir)
    path = _os.path.join(
        _tempfile.gettempdir(), f"rs_ivf_index_u{_os.getuid()}_{key}"
    )
    build_ivf_index(
        emb, cents, path, source_path=_os.path.join(sf_dir, "embeddings.parquet")
    )
    cand = spark.read.parquet(path).filter(
        F.col("cell").isin(_probe_cells(qvec, cents, 4))
    )
    encoded = pq_encode(cand, codebooks)
    return pq_adc_topk(encoded, pq_lut(qvec, codebooks), k=10, exclude_id=0)


@register("q87_ivfpq_indexed", None)
def q87_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q78's production shape completed: the IVF-PQ index MATERIALIZED
    with the codes stored IN the layout — cell assignment and PQ
    compression paid once at build (manifest-idempotent), every probe
    partition-prunes to its cells and ADC-scores the stored codes.
    The probe's scan reads (vec_id, pq_codes) ONLY — never a float
    vector (pinned: ``ReadSchema`` excludes the embedding column) —
    which is the byte-level win that makes 10^11-vector ANN serve from
    a footprint ~32x smaller than the corpus.  Same codebooks, same
    probe set, same ADC => q78's oracle."""
    import os as _os
    import tempfile as _tempfile

    from .operators.similarity import build_ivfpq_index, ivfpq_topk_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 48).collect()
    }
    cents = [(i, rows[i]) for i in range(16)]
    qvec = rows[0]
    codebooks = [
        [rows[32 + k][m * 8 : (m + 1) * 8] for k in range(16)] for m in range(8)
    ]
    key = _dataset_key(sf_dir)
    path = _os.path.join(
        _tempfile.gettempdir(), f"rs_ivfpq_index_u{_os.getuid()}_{key}"
    )
    build_ivfpq_index(
        emb, cents, codebooks, path,
        source_path=_os.path.join(sf_dir, "embeddings.parquet"),
    )
    return ivfpq_topk_indexed(
        spark, path, qvec, cents, codebooks, k=10, n_probe=4, exclude_id=0
    )


ORACLE["q87_ivfpq_indexed"] = ORACLE["q78_ivfpq_ann"]


@register("q88_stream_funnel", None)
def q88_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q79's funnel computed BY THE STREAM: a custom buffered-state
    operator (``applyInPandasWithState``) maintains each user's
    funnel-relevant history and emits their current stage per
    micro-batch; stage counts at stream end equal the batch funnel —
    pinned against q79's oracle.  Exercises the buffered-state pattern
    (history in the state store, exact recompute per batch) that the
    running-count custom op (q32) does not."""
    from .streaming.runner import stream_funnel_stages

    stages = stream_funnel_stages(spark, sf_dir)

    def _count(cond, label):
        return stages.filter(cond).agg(
            F.count("*").cast("long").alias("n_users")
        ).select(F.lit(label).alias("stage"), "n_users")

    return (
        _count(F.col("stage") >= 1, "1_view")
        .unionByName(_count(F.col("stage") >= 2, "2_click_after_view"))
        .unionByName(_count(F.col("stage") >= 3, "3_purchase_after_click"))
    )


@register(
    "q79_funnel",
    """
    WITH v AS (SELECT user_id, min(ts) AS vt FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS ct
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS pt
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id)
    SELECT stage, n_users FROM (
      SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p)
    """,
)
def q79_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users who viewed, then clicked STRICTLY after
    their first view, then purchased strictly after that click — the
    ordered-sequence semantics (each stage anchored to the previous
    stage's earliest completion) that a naive per-type count cannot
    express.  Three conditional-min aggregates chained by user-keyed
    joins; each stage's frame shrinks, and at scale all three shuffles
    share the user key so AQE plans the later joins off the first
    exchange's partitioning."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    def _count(df, stage):
        return df.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(stage).alias("stage"), "n_users"
        )
    return (
        _count(v, "1_view")
        .unionByName(_count(c, "2_click_after_view"))
        .unionByName(_count(p, "3_purchase_after_click"))
    )


@register(
    "q80_retention",
    """
    WITH cohort AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS c_day FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT c.c_day AS cohort_day,
           CAST(a.day - c.c_day AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act a JOIN cohort c USING (user_id)
    WHERE a.day - c.c_day <= 7
    GROUP BY 1, 2
    """,
)
def q80_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by their first-activity day,
    counted on each subsequent active day up to a week out — the
    (cohort_day, day_offset) -> n_users matrix every growth dashboard
    is built on.  One distinct per (user, day), one tiny cohort
    aggregate joined back on the user key, one rollup; dates derive in
    the pinned UTC session zone so oracle date arithmetic agrees."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    act = ev.distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("c_day"))
    return (
        act.join(cohort, "user_id")
        .select(
            F.col("c_day").alias("cohort_day"),
            F.datediff("day", "c_day").cast("long").alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "q81_asof_forward",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    ranked AS (
      SELECT p.event_id, c.event_id AS click_id,
             CAST(floor(epoch(c.ts)) AS BIGINT) AS cts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY floor(epoch(c.ts)) ASC,
                                         c.event_id DESC) AS rn
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND floor(epoch(c.ts)) >= floor(epoch(p.ts))
       AND floor(epoch(c.ts)) - floor(epoch(p.ts)) <= 3600
    )
    SELECT p.event_id, p.user_id, r.cts AS asof_ts,
           r.click_id AS asof_click_id
    FROM p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (event_id)
    """,
)
def q81_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q48's FORWARD direction: each purchase carries the same user's
    NEXT click at-or-after it within 1 hour — "did the purchase lead
    anywhere" attribution.  Same union-sort-carry operator with the
    sort reversed; ties at the earliest following second break by the
    match struct's lexical max (highest click_id), mirrored in the
    oracle's rank.  Driver-verifies the direction the differential
    tests cover locally."""
    from .operators.windows import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["click_id"],
        direction="forward",
        tolerance_s=3600,
    ).select("event_id", "user_id", "asof_ts", "asof_click_id")


@register(
    "q82_salted_join",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY c.c_mktsegment
    """,
)
def q82_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-proof JOIN oracle-verified (q75 covers the salted
    aggregate): the event fact side is salted into 16 deterministic
    buckets and the customer dim replicated 16x, so a mega-user's rows
    land on 16 tasks instead of one.  The oracle is the PLAIN join —
    drop-in equality is what makes salting deployable when the dim is
    too big to broadcast and one key's rows exceed what AQE's skew
    split handles."""
    from .operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") + 1).alias("c_custkey"), "value"
    )
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(ev, dim, on="c_custkey", n_salt=16)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register("q83_dedup_components_star", None)
def q83_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q56's clusters via the alternating large-star/small-star
    formulation (Kiveris et al.) — O(log diameter) rounds instead of
    O(diameter), the form that survives DEEP components (link graphs,
    co-occurrence graphs) where min-propagation walks one hop per
    round.  Same contract, same recursive-CTE oracle as q56; the
    logarithmic convergence is pinned separately on a 64-node chain in
    `tests/test_graph.py`."""
    from .operators.dedup import lsh_candidate_pairs
    from .operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, on_overflow="error")
    return connected_components_star(pairs).select(
        F.col("node").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


ORACLE["q83_dedup_components_star"] = ORACLE["q56_dedup_components"]


@register(
    "q84_quality_buckets",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    freq AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks),
    scores AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             ROUND(avg(ln(tf / n)), 6) AS s
      FROM toks JOIN freq USING (term) CROSS JOIN tot GROUP BY doc_id),
    hist AS (SELECT s, count(*) AS c FROM scores GROUP BY 1),
    cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum,
                   sum(c) OVER () AS n
            FROM hist),
    b AS (SELECT min(CASE WHEN cum >= 0.25 * n THEN s END) AS b1,
                 min(CASE WHEN cum >= 0.50 * n THEN s END) AS b2,
                 min(CASE WHEN cum >= 0.75 * n THEN s END) AS b3 FROM cum)
    SELECT CASE WHEN s <= b1 THEN 1 WHEN s <= b2 THEN 2
                WHEN s <= b3 THEN 3 ELSE 4 END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           ROUND(avg(s), 6) AS avg_logprob,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM scores CROSS JOIN b
    GROUP BY 1
    """,
)
def q84_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: documents quartiled by their LM quality
    score (q68's mean unigram log-prob) with per-bucket volume stats —
    the stage between quality scoring and difficulty-ordered sampling
    in a curriculum pipeline.

    Boundary computation is the HISTOGRAM-CROSSING exact quantile:
    group the ROUNDED scores (identical cross-engine per q68's oracle)
    into a (score, count) histogram, cumulative-sum it, and take each
    boundary as the first score whose cumulative count crosses q*n —
    the lower discrete quantile, bit-identical in both engines because
    every input is exact integer arithmetic on shared doubles.

    Scale posture (the r3-verdict swap): the former
    ``percentile(s, array(...))`` buffered one value PER DOCUMENT in a
    single ObjectHashAggregate task — gigabytes at 10^9 docs.  Here the
    only single-task structure is the cumulative window over the
    DISTINCT-rounded-score histogram, whose cardinality is bounded by
    rounding granularity times the score range (~10^6-10^7 rows at any
    corpus size) — constant, not O(docs); the groupBy that builds it is
    an ordinary partial-aggregated shuffle.  No global sort of doc
    scores, no single-partition NTILE, no whole-corpus percentile
    buffer (pinned by ``tests/test_plans.py``); the 3-value boundary
    row broadcasts."""
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("tf"))
    tot = toks.agg(F.count("*").alias("n"))
    scores = (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("tf") / F.col("n"))), 6).alias("s"),
        )
    )
    hist = scores.groupBy("s").agg(F.count("*").alias("c"))
    cum = hist.select(
        "s",
        F.sum("c")
        .over(Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    b = cum.agg(
        *[
            F.min(F.when(F.col("cum") >= q * F.col("n"), F.col("s"))).alias(name)
            for q, name in ((0.25, "b1"), (0.50, "b2"), (0.75, "b3"))
        ]
    )
    bucket = (
        F.when(F.col("s") <= F.col("b1"), 1)
        .when(F.col("s") <= F.col("b2"), 2)
        .when(F.col("s") <= F.col("b3"), 3)
        .otherwise(4)
    )
    return (
        scores.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("s"), 6).alias("avg_logprob"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@register(
    "q85_weighted_sample",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    freq AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks),
    scores AS (
      SELECT doc_id, ROUND(avg(ln(tf / n)), 6) AS s
      FROM toks JOIN freq USING (term) CROSS JOIN tot GROUP BY doc_id),
    mm AS (SELECT min(s) AS mn, max(s) AS mx FROM scores),
    r AS (SELECT doc_id,
                 CASE WHEN mx = mn THEN 1.0 ELSE (s - mn) / (mx - mn) END AS rate
          FROM scores CROSS JOIN mm),
    d AS (SELECT doc_id, rate,
                 ('0x' || substr(md5('wq1' || '|' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                   / 4503599627370496.0 AS frac
          FROM r)
    SELECT doc_id, ROUND(rate, 6) AS keep_rate FROM d WHERE frac < rate
    """,
)
def q85_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling: each document kept with probability
    equal to its min-max-normalized LM quality score — the continuous
    per-ROW generalization of per-group mixing (q63), i.e. the
    DCLM-style "sample in proportion to quality" corpus constructor.
    The draw is 52 exact bits of the shared md5(seed|id) family, the
    rate derives from ROUNDED scores (identical cross-engine per q68's
    oracle), so the keep set is bit-deterministic: retry-, repartition-
    and growth-stable, and replayable by the SQL oracle."""
    from .operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("tf"))
    tot = toks.agg(F.count("*").alias("n"))
    scores = (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log(F.col("tf") / F.col("n"))), 6).alias("s"))
    )
    mm = scores.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    rated = scores.crossJoin(F.broadcast(mm)).select(
        "doc_id",
        F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
        .otherwise((F.col("s") - F.col("mn")) / (F.col("mx") - F.col("mn")))
        .alias("rate"),
    )
    kept = weighted_sample(rated, rate_col="rate", id_col="doc_id", seed="wq1")
    return kept.select("doc_id", F.round("rate", 6).alias("keep_rate"))


@register(
    "q86_stream_leaderboard",
    """
    WITH counts AS (
      SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
             user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT window_start, user_id, n_events,
             CAST(row_number() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, user_id ASC) AS BIGINT) AS rk
      FROM counts)
    SELECT window_start, rk, user_id, n_events FROM ranked WHERE rk <= 3
    """,
)
def q86_stream_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous leaderboard: top-3 most active users per hourly
    window, maintained as a streaming windowed count (checkpointed,
    watermark-bounded state) with the rank as a batch view over the
    drained stream-end state — the right split of labor: the
    commutative aggregate is stateful and incremental, the
    non-commutative rank is recomputed cheaply over the tiny
    aggregate.  Stream end equals the batch window+rank oracle."""
    from .streaming.runner import stream_window_leaderboard

    return stream_window_leaderboard(spark, sf_dir, k=3)


def run(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return QUERIES[name](spark, sf_dir)

@register(
    "q89_brand_nation_revenue",
    """
    SELECT p_brand, n_name AS supp_nation,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY 1, 2
    """,
)
def q89_brand_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue by part brand x supplier nation (the TPC-H
    Q9 profit-share shape) — exercises the LAST two untouched fixture
    tables (part, supplier) through a 3-dimension star join: all three
    dims broadcast, the lineitem fact never shuffles for a join, and
    the single exchange is the rollup's partial-aggregated one (same
    pinned discipline as q33)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("p_brand", F.col("n_name").alias("supp_nation"))
        .agg(
            F.count("*").alias("n_lineitems"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# q88's oracle aliases q79's (defined above); assigned here because the
# alias must run after q79's registration.
ORACLE["q88_stream_funnel"] = ORACLE["q79_funnel"]


# --------------------------------------------------------------------------
# Relational breadth, round 4: the last common shapes without dedicated
# entries — arbitrary GROUPING SETS (q41 covers the cube lattice),
# correlated EXISTS/NOT EXISTS through the SQL front door, and
# LEFT/FULL OUTER joins with live null paths.
# --------------------------------------------------------------------------


@register(
    "q90_grouping_sets",
    """
    SELECT COALESCE(o_orderpriority, '(all)') AS priority,
           COALESCE(c_mktsegment, '(all)') AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((o_orderpriority, c_mktsegment),
                            (o_orderpriority), (c_mktsegment))
    """,
)
def q90_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the lattice selection cube/rollup
    (q41/q33) cannot express: exactly {(priority, segment), (priority),
    (segment)}, deliberately WITHOUT the grand total, so the plan's
    ``Expand`` factor is the set count (3), not 2^k.  Group keys are
    non-null strings, so the '(all)' coalescing is unambiguous.

    Shape: customer broadcasts onto orders (no fact shuffle), Expand
    multiplies rows x3 AFTER the join but BEFORE the partial aggregate
    — the exchange carries combined partials only, same posture as the
    q33 rollup."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    )
    return (
        j.groupingSets(
            [["o_orderpriority", "c_mktsegment"], ["o_orderpriority"], ["c_mktsegment"]],
            "o_orderpriority",
            "c_mktsegment",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("c_mktsegment", F.lit("(all)")).alias("segment"),
            "n_orders",
            "revenue",
        )
    )


_Q91_SQL = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(sum(o_totalprice), 2) AS revenue
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_discount > 0.08)
    GROUP BY o_orderpriority
"""


@register("q91_exists_correlated", _Q91_SQL)
def q91_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries, submitted through the
    ANSI-SQL front door (``register_tables`` + ``spark.sql`` — the same
    text DuckDB runs as the oracle): orders with a line shipped >60
    days after the order date (the correlation is an INEQUALITY across
    tables, not a plain equi-semi key) and no deeply-discounted line.

    What this pins is Catalyst's DECORRELATION: both subqueries rewrite
    to hash semi/anti joins on l_orderkey with the correlated predicate
    carried as a join condition — no per-row re-execution, no nested
    loop (``tests/test_plans.py``).  q34 covers bare semi/anti on a
    projected key; this is the subquery SHAPE users actually write."""
    from .sources.readers import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(_Q91_SQL)


@register(
    "q92_left_outer_orders",
    """
    SELECT c.c_custkey,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_big_orders,
           ROUND(COALESCE(sum(o.o_totalprice), 0), 2) AS big_spend
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 480000) o
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q92_left_outer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with a LIVE null path: every customer's count
    and spend over only their >480k orders — about two thirds of
    customers have none (978/1500 at sf0.01) and must survive with
    (0, 0.0), which inner-join shapes silently drop.  The filter on the
    right side pushes to its scan; count(o_orderkey) counts matches
    only (COUNT(*) would count the null row — the classic outer-join
    bug the oracle would catch)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 480000
    )
    j = cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_big_orders"),
        F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
            "big_spend"
        ),
    )


@register(
    "q93_full_outer_nations",
    """
    WITH cn AS (SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY 1),
    sn AS (SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS n_rich_supp
           FROM supplier WHERE s_acctbal > 6000 GROUP BY 1)
    SELECT COALESCE(cn.k, sn.k) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_rich_supp, 0) AS n_rich_supp,
           CASE WHEN sn.k IS NULL THEN 'customers_only'
                WHEN cn.k IS NULL THEN 'suppliers_only'
                ELSE 'both' END AS presence
    FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
    """,
)
def q93_full_outer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates: per-nation customer counts
    against per-nation high-balance supplier counts (s_acctbal > 6000
    leaves 6-24 nations supplier-less across the test SFs, so the
    customers_only null path is live at every scale; presence-tagged
    like a reconciliation report).  Both sides are one-row-per-nation
    aggregates — at any scale this is a tiny-by-tiny merge after two
    partial-aggregated shuffles, the standard compare-two-rollups
    shape."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    cn = cust.groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count("*").alias("n_cust")
    )
    sn = (
        supp.filter(F.col("s_acctbal") > 6000)
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count("*").alias("n_rich_supp"))
    )
    j = cn.join(sn, cn["k"] == sn["sk"], "full_outer")
    return j.select(
        F.coalesce("k", "sk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_rich_supp", F.lit(0)).alias("n_rich_supp"),
        F.when(F.col("sk").isNull(), "customers_only")
        .when(F.col("k").isNull(), "suppliers_only")
        .otherwise("both")
        .alias("presence"),
    )


@register(
    "q94_label_centroids",
    """
    WITH u AS (SELECT label, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS dim
               FROM embeddings)
    SELECT label, CAST(dim AS BIGINT) AS dim,
           ROUND(avg(v), 6) AS centroid_v
    FROM u GROUP BY 1, 2
    """,
)
def q94_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the clustering/classifier-prep
    primitive (class prototypes, nearest-centroid baselines, codebook
    seeding): element-wise mean of every label's vectors, emitted FLAT
    as (label, dim, value) rows so the oracle hash is
    representation-independent.

    Shape: ``posexplode`` unrolls (vector -> 64 rows) scan-side, then
    ONE partial-aggregated exchange on (label, dim) — the shuffle
    carries |labels| x dims combined partials, never vectors.  At 10^11
    vectors this is the same map-side-combine posture as any grouped
    aggregate; the alternative (collecting vectors per label) is the
    anti-pattern."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    )
    return (
        pos.groupBy("label", (F.col("dim0") + 1).cast("long").alias("dim"))
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"))
    )


@register(
    "q95_bigram_logprob",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS w,
                   generate_subscripts(t, 1) AS i FROM t),
    bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
           FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           ROUND(avg(ln(n12 / n1)), 6) AS avg_bigram_logprob
    FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY doc_id
    """,
)
def q95_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring — the next rung above q68's unigram
    proxy: each document's mean log conditional probability
    ln(c(w1,w2) / c(w1·)) under the corpus's own bigram counts.
    Catches word-salad documents whose unigram mix looks normal but
    whose ADJACENCIES are improbable.  Single-token docs drop (no
    bigrams to score).

    Shape: bigrams are built SCAN-SIDE with one codegen ``transform``
    over the token array (no ordinality self-join — that is the
    oracle's formulation, quadratic in positions per doc); counts are
    two partial-aggregated groupBys; the probability join is
    broadcast-or-AQE.  Like q68 this is the self-contained form — at
    scale the (w1, w2) count table is an index built once (same
    posture as ``term_frequencies_from_postings``)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    # size guard REQUIRED: sequence(1, 0) generates a DESCENDING [1, 0]
    # in Spark, which would fabricate a wrap-around bigram on 1-token docs
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        # one lazy lineage cut: big feeds c1, c12 AND the probability
        # join, and the three consumers shuffle by DIFFERENT keys, so
        # exchange reuse cannot share the scan — without the cut the
        # tokenize+transform+explode pass ran 3x (isolated noop 1.51 s
        # -> 0.87 s; r12 opt, the r6 single-upstream-pass rule)
        .localCheckpoint(eager=False)
    )
    c1 = big.groupBy("w1").agg(F.count("*").alias("n1"))
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    return (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("n12") / F.col("n1"))), 6).alias(
                "avg_bigram_logprob"
            ),
        )
    )


@register(
    "q96_stream_outer_join",
    """
    WITH mx AS (
      SELECT LEAST(
        (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) FROM events
         WHERE event_type = 'click'),
        (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) FROM events
         WHERE event_type = 'purchase')) AS msec),
    c AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'click'),
    b AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase')
    SELECT c.user_id,
           c.event_id AS click_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts,
           COALESCE(CAST(floor(epoch(b.ts)) AS BIGINT), -1) AS purchase_ts,
           ROUND(COALESCE(b.value, -1), 2) AS purchase_value,
           CAST(CASE WHEN b.ts IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS matched
    FROM c CROSS JOIN mx
    LEFT JOIN b ON b.user_id = c.user_id
               AND b.ts >= c.ts
               AND b.ts <= c.ts + INTERVAL 1 HOUR
    WHERE CAST(floor(epoch(c.ts)) AS BIGINT) <= mx.msec - 10801
    """,
)
def q96_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the outer variant of
    q42, and the genuinely watermark-DRIVEN one: a matched
    click/purchase pair emits immediately, but an UNMATCHED click may
    only emit (with nulls) once the watermark proves no purchase can
    still arrive for its window.  The reference has no joins and no
    event time at all (SURVEY.md §2.5); this is the shape ad
    attribution / abandoned-cart detection runs forever at scale,
    with state GC'd by the same watermark that licenses the null
    emissions.

    Determinism contract: clicks within watermark-delay + join-window
    of stream end are still buffered when the drain stops, so both
    sides (Spark output AND oracle) restrict to the PROVEN horizon —
    click_ts at least 3 h + 1 s before the LAGGING side's max event
    time (the global watermark is the min across inputs)
    (integer epoch-second arithmetic, identical in both engines; the
    1 s margin keeps the eviction boundary strictly inside the
    filter).  Unmatched rows carry (-1, -1.0, matched=0) sentinels so
    the null path is hash-visible."""
    from .streaming.runner import stream_stream_click_purchase_left_join

    drained = stream_stream_click_purchase_left_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    # bounded 1-row driver read: the global watermark is the MIN across
    # the two inputs' watermarks, so the proven-emission horizon keys
    # off whichever side's max event time lags (purchases are sparse,
    # so theirs usually does)
    maxsec = ev.agg(
        F.least(
            F.max(
                F.when(
                    F.col("event_type") == "click", F.unix_timestamp("ts")
                )
            ),
            F.max(
                F.when(
                    F.col("event_type") == "purchase",
                    F.unix_timestamp("ts"),
                )
            ),
        )
    ).head()[0]
    return (
        drained.filter(F.col("click_ts") <= F.lit(int(maxsec) - 10801))
        .select(
            "user_id",
            "click_id",
            "click_ts",
            F.coalesce("purchase_ts", F.lit(-1)).cast("long").alias(
                "purchase_ts"
            ),
            F.coalesce("purchase_value", F.lit(-1.0)).alias(
                "purchase_value"
            ),
            F.when(F.col("purchase_ts").isNull(), 0)
            .otherwise(1)
            .cast("long")
            .alias("matched"),
        )
    )


@register(
    "q97_zorder_probe",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_custkey BETWEEN 30 AND 90
      AND o_totalprice BETWEEN 100000 AND 200000
    GROUP BY o_orderpriority
    """,
)
def q97_zorder_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-d box probe over the orders table in a Z-ORDER-clustered
    layout (Morton interleave of o_custkey and o_totalprice,
    ``operators/layout.py``): a single-column sort can prune files on
    one dimension only, the space-filling curve gives every file a
    small min/max box in BOTH, so a (custkey range x price range)
    probe skips the files — and inside survivors, the row groups —
    whose box misses it.  Build is manifest-idempotent like the
    IVF/BM25 indexes; the probe pushes both range predicates to the
    scan (plan-pinned) and the measured file-footprint win over a
    linear sort is asserted in ``tests/test_zorder_layout.py``.  Same
    answer as the flat table (the oracle); what changes is bytes
    touched at 100 TB."""
    import os as _os
    import tempfile as _tempfile

    from .operators.layout import build_zordered, read_zordered

    orders = load_table(spark, sf_dir, "orders")
    key = _dataset_key(sf_dir)
    path = _os.path.join(
        _tempfile.gettempdir(), f"rs_orders_zorder_u{_os.getuid()}_{key}"
    )
    build_zordered(
        orders,
        path,
        "o_custkey",
        "o_totalprice",
        n_files=32,
        source_path=_os.path.join(sf_dir, "orders.parquet"),
    )
    z = read_zordered(spark, path)
    box = z.filter(
        F.col("o_custkey").between(30, 90)
        & F.col("o_totalprice").between(100000, 200000)
    )
    return box.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "q98_kmeans_lloyd",
    """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c,
             embedding
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT 4)
    ),
    d1 AS (
      SELECT e.vec_id, s.c,
             ROUND(SUM((CAST(e.embedding[g.i] AS DOUBLE)
                        - CAST(s.embedding[g.i] AS DOUBLE)) ** 2), 6) AS d
      FROM embeddings e CROSS JOIN seeds s
      CROSS JOIN generate_series(1, 64) g(i)
      GROUP BY e.vec_id, s.c
    ),
    a1 AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
        FROM d1) WHERE rk = 1
    ),
    c1 AS (
      SELECT a1.c, g.i AS dim, avg(CAST(e.embedding[g.i] AS DOUBLE)) AS v
      FROM embeddings e JOIN a1 USING (vec_id)
      CROSS JOIN generate_series(1, 64) g(i)
      GROUP BY 1, 2
    ),
    d2 AS (
      SELECT e.vec_id, c1.c,
             ROUND(SUM((CAST(e.embedding[c1.dim] AS DOUBLE) - c1.v) ** 2),
                   6) AS d
      FROM embeddings e CROSS JOIN c1
      GROUP BY e.vec_id, c1.c
    ),
    a2 AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
        FROM d2) WHERE rk = 1
    ),
    cent AS (
      SELECT a2.c AS cluster, CAST(g.i AS BIGINT) AS dim,
             ROUND(avg(CAST(e.embedding[g.i] AS DOUBLE)), 6) AS centroid_v
      FROM embeddings e JOIN a2 USING (vec_id)
      CROSS JOIN generate_series(1, 64) g(i)
      GROUP BY 1, 2
    ),
    cnt AS (SELECT c AS cluster, CAST(count(*) AS BIGINT) AS n_members
            FROM a2 GROUP BY 1)
    SELECT cluster, dim, centroid_v, n_members
    FROM cent JOIN cnt USING (cluster)
    """,
)
def q98_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd, k=4, 2 rounds) over the embedding
    corpus — the iterative-ML control-flow shape the one-shot
    aggregates (q94 centroids) can't express: assign = k broadcast
    squared-distance expressions in pure codegen (argmin via
    ``array_min`` on (rounded-distance, cluster) structs — struct
    ordering IS the cross-engine tie-break), update = posexplode + ONE
    partial-aggregated (cluster, dim) exchange.  The only driver
    traffic per round is the k x dims centroid matrix
    (``operators/clustering.py``).  The oracle UNROLLS both rounds in
    SQL — assignment, update, re-assignment — so convergence math is
    hash-checked end-to-end, not just row counts.  Output is the final
    flat centroid table with membership counts."""
    from .operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=4, iters=2)


@register(
    "q99_group_normalize",
    """
    WITH st AS (
      SELECT lang,
             avg(CAST(n_chars AS DOUBLE)) AS mu,
             stddev_samp(CAST(n_chars AS DOUBLE)) AS sd,
             min(CAST(n_chars AS DOUBLE)) AS lo,
             max(CAST(n_chars AS DOUBLE)) AS hi
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           ROUND(CASE WHEN st.sd IS NULL OR st.sd = 0 THEN 0.0
                      ELSE (d.n_chars - st.mu) / st.sd END, 6) AS z_score,
           ROUND(CASE WHEN st.hi = st.lo THEN 0.0
                      ELSE (d.n_chars - st.lo) / (st.hi - st.lo) END,
                 6) AS minmax
    FROM documents d JOIN st USING (lang)
    """,
)
def q99_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization — the feature-engineering
    primitive every training pipeline runs before mixing heterogeneous
    sources: z-score and min-max of a numeric feature WITHIN each
    language (a global normalization would let the dominant language
    define 'normal' for the rest).

    Shape: one partial-aggregated groupBy computes the per-group stats
    (|langs| rows), which BROADCAST back onto the scan — the corpus is
    read once and never shuffled; the normalized columns are pure
    codegen arithmetic.  (A window over partitionBy(lang) computes the
    same thing but shuffles the whole corpus by a low-cardinality key —
    the skew trap; the stats-join form is the 100 TB posture.)
    Degenerate groups (single doc, or constant feature) normalize to
    0.0 by convention rather than NULL/NaN."""
    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("double")
    st = docs.groupBy("lang").agg(
        F.avg(x).alias("mu"),
        F.stddev_samp(x).alias("sd"),
        F.min(x).alias("lo"),
        F.max(x).alias("hi"),
    )
    j = docs.join(F.broadcast(st), "lang")
    z = F.when(
        F.col("sd").isNull() | (F.col("sd") == 0), F.lit(0.0)
    ).otherwise((x - F.col("mu")) / F.col("sd"))
    mm = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        (x - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    return j.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(z, 6).alias("z_score"),
        F.round(mm, 6).alias("minmax"),
    )


@register(
    "q100_cooccurrence_pmi",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS w,
                   generate_subscripts(t, 1) AS i FROM t),
    pr AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
           FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2),
    pc AS (SELECT w1, w2, count(*) AS n_ab FROM pr GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS p FROM pc),
    uc AS (SELECT w AS tok, count(*) AS n FROM tok GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok)
    SELECT pc.w1, pc.w2, CAST(pc.n_ab AS BIGINT) AS n_pair,
           ROUND(ln((pc.n_ab / tot.p) / ((u1.n / nn.n) * (u2.n / nn.n))),
                 6) AS pmi
    FROM pc CROSS JOIN tot CROSS JOIN nn
    JOIN uc u1 ON u1.tok = pc.w1
    JOIN uc u2 ON u2.tok = pc.w2
    WHERE pc.n_ab >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def q100_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence PMI phrase mining — collocation discovery over the
    corpus (the classic phrase-vocabulary step before tokenizer
    training): unordered token pairs within a +-2 position window,
    scored ln(P(a,b) / (P(a)P(b))), min support 5, top 50.

    Shape: pairs are built SCAN-SIDE from the token array — two
    codegen ``transform``s (offset 1 and offset 2) flattened and
    exploded in ONE pass, with empty-array guards instead of the
    sequence(1,0)-descends trap (q95); NO positional self-join (that is
    the oracle's quadratic formulation).  Counts are partial-aggregated
    groupBys; the two scalar totals ride broadcast 1-row crossJoins;
    the unigram-probability joins shuffle only the distinct-pair table.
    The final top-50 is a TakeOrdered on the ROUNDED score, ties broken
    by the pair text, so cross-engine float summation can't reorder."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    pair_arrays = F.array(
        F.when(
            F.size("t") >= 2,
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(least(t[i-1], t[i]) AS w1, "
                "greatest(t[i-1], t[i]) AS w2))"
            ),
        ).otherwise(F.expr("array()")),
        F.when(
            F.size("t") >= 3,
            F.expr(
                "transform(sequence(1, size(t) - 2), "
                "i -> struct(least(t[i-1], t[i+1]) AS w1, "
                "greatest(t[i-1], t[i+1]) AS w2))"
            ),
        ).otherwise(F.expr("array()")),
    )
    pairs = toks.select(
        F.explode(F.flatten(pair_arrays)).alias("pr")
    ).select("pr.w1", "pr.w2")
    # the count tables are consumed twice (scores + their own grand
    # totals); caching them makes each corpus pass run ONCE — the
    # vocab-sized intermediates are the natural materialization point
    # (MEMORY_AND_DISK, spillable), exactly what a 100 TB run would
    # write to a scratch table
    pc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_ab")).cache()
    tot = pc.agg(F.sum("n_ab").cast("double").alias("p"))
    uni = toks.select(F.explode("t").alias("tok"))
    uc = uni.groupBy("tok").agg(F.count("*").alias("n")).cache()
    nn = uc.agg(F.sum("n").cast("double").alias("nt"))
    scored = (
        pc.filter(F.col("n_ab") >= 5)
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nn))
        .join(uc.withColumnRenamed("tok", "w1").withColumnRenamed("n", "n1"), "w1")
        .join(uc.withColumnRenamed("tok", "w2").withColumnRenamed("n", "n2"), "w2")
        .select(
            "w1",
            "w2",
            F.col("n_ab").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("p"))
                    / ((F.col("n1") / F.col("nt")) * (F.col("n2") / F.col("nt")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(50)


@register("q101_countmin_heavy_hitters", None)
def q101_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via count-min sketch — the frequency member of the
    sketch family (q44 percentiles, q45 distinct): token counts
    estimated from a 4 x 1024 counter grid instead of a vocab-sized
    exact count, probed for the top-20 tokens by estimate.

    Rows-only by design (DuckDB has no xxhash64, so the estimates are
    not SQL-replicable); the published never-undercount / eps-delta
    overcount bounds and exact mergeability are pinned in
    ``tests/test_approx_variants.py`` instead — the same contract as
    q44/q45.  At 100 TB the sketch build is one scan + one exchange of
    <= depth x width partials, and day-level sketches merge by bucket
    sum without rescanning (``operators/sketches.py``)."""
    from .operators.sketches import countmin_build, countmin_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize("text")).alias("tok")
    )
    sketch = countmin_build(toks).cache()
    probes = toks.distinct()
    est = countmin_estimate(sketch, probes)
    return est.orderBy(F.desc("est_count"), F.asc("tok")).limit(20)


@register(
    "q102_scd2_dimension",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_v
      FROM events
    ),
    changes AS (
      SELECT user_id, ts, event_id, value FROM ordered
      WHERE prev_v IS NULL OR value <> prev_v
    ),
    versioned AS (
      SELECT user_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version,
             CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
             lead(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to_raw
      FROM changes
    )
    SELECT user_id, version, valid_from,
           COALESCE(valid_to_raw, -1) AS valid_to,
           ROUND(value, 2) AS val,
           CAST(CASE WHEN valid_to_raw IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_current
    FROM versioned
    """,
)
def q102_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build — the warehouse-side
    complement to q67's type-1 upsert: each user's value history
    becomes validity-interval versions (valid_from/valid_to), with
    NO-CHANGE records collapsed first (consecutive equal values carry
    no new version — the collapse every SCD2 loader does so churn
    without change doesn't mint rows).

    Shape: one shuffle by the dimension key feeds ALL THREE window
    passes (change collapse via lag, version numbering, interval close
    via lead — same partitioning, so Catalyst plans one Exchange +
    one Sort and runs the windows back-to-back); open versions close
    with -1 sentinels.  At 100 TB this is the standard
    history-table build: linear in the feed, no self-joins."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("prev_v", F.lag("value").over(w))
        .filter(F.col("prev_v").isNull() | (F.col("value") != F.col("prev_v")))
    )
    versioned = changes.select(
        "user_id",
        "value",
        F.row_number().over(w).cast("long").alias("version"),
        F.unix_timestamp("ts").alias("valid_from"),
        F.lead(F.unix_timestamp("ts")).over(w).alias("valid_to_raw"),
    )
    return versioned.select(
        "user_id",
        "version",
        "valid_from",
        F.coalesce("valid_to_raw", F.lit(-1)).cast("long").alias("valid_to"),
        F.round("value", 2).alias("val"),
        F.when(F.col("valid_to_raw").isNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_current"),
    )


@register(
    "q103_sequence_examples",
    """
    WITH ordered AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             event_type,
             lag(event_type, 1) OVER w AS f1,
             lag(event_type, 2) OVER w AS f2,
             lag(event_type, 3) OVER w AS f3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts_sec, f3, f2, f1, event_type AS label
    FROM ordered
    WHERE f3 IS NOT NULL
    """,
)
def q103_sequence_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event training examples — sequence-model dataset prep: for
    every event with >= 3 predecessors, emit (the previous three event
    types in order, label = the event that followed).  The
    (features, label) windowing every next-action / session-LM
    training pipeline runs.

    Shape: ONE shuffle by user feeds all three lags (same window
    spec); emission is a null-guard filter.  Linear in the log,
    no self-joins, no collect — at 100 TB the example count equals
    the event count minus 3 per user."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        F.lag("event_type", 3).over(w).alias("f3"),
        F.lag("event_type", 2).over(w).alias("f2"),
        F.lag("event_type", 1).over(w).alias("f1"),
        F.col("event_type").alias("label"),
    )
    return out.filter(F.col("f3").isNotNull()).select(
        "user_id", "ts_sec", "f3", "f2", "f1", "label"
    )


@register(
    "q104_bag_set_ops",
    """
    WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    e AS (SELECT user_id FROM events WHERE event_type = 'error')
    SELECT 'both' AS op, user_id
    FROM (SELECT user_id FROM p INTERSECT ALL SELECT user_id FROM e)
    UNION ALL
    SELECT 'purchase_surplus' AS op, user_id
    FROM (SELECT user_id FROM p EXCEPT ALL SELECT user_id FROM e)
    """,
)
def q104_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations (INTERSECT ALL / EXCEPT ALL) —
    the multiplicity-preserving complement to q36's distinct set ops:
    per user, min(purchases, errors) rows tagged 'both' and the
    purchase surplus (purchases - errors, clamped at 0) tagged
    'purchase_surplus'.  Multiplicity IS the signal here (how many
    co-occurrences / how much surplus), which DISTINCT ops destroy.

    Shape: Spark plans both as single hash aggregations computing
    per-key counts on each side then re-expanding — one exchange per
    side, no join explosion; the duplicate rows in the result are the
    contract."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    e = ev.filter(F.col("event_type") == "error").select("user_id")
    both = p.intersectAll(e).select(F.lit("both").alias("op"), "user_id")
    surplus = p.exceptAll(e).select(
        F.lit("purchase_surplus").alias("op"), "user_id"
    )
    return both.unionByName(surplus)


@register("q105_stream_countmin", None)
def q105_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: the count-min sketch MAINTAINED BY THE
    STREAM — each micro-batch's grid bucket-sum-merges into a tiny
    parquet target (constant state regardless of key cardinality; the
    aggregation-state alternative holds one counter per key), gated by
    a batch-id ledger that rides in the sketch rows so a replayed
    batch is a whole-batch no-op.  Stream end equals the batch sketch
    EXACTLY (merge associativity — pinned in
    ``tests/test_streaming_live.py``); rows-only here like q101 (no
    xxhash64 in DuckDB).  Output: top-10 users by estimated event
    count."""
    from .operators.sketches import countmin_estimate
    from .streaming.runner import stream_countmin

    sketch = stream_countmin(spark, sf_dir)
    probes = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("tok")
    ).distinct()
    est = countmin_estimate(sketch, probes)
    return (
        est.orderBy(F.desc("est_count"), F.asc("tok"))
        .limit(10)
        .select(F.col("tok").alias("user_id"), "est_count")
    )


@register(
    "q106_pagerank",
    """
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
    pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    in1 AS (SELECT e.dst AS node, SUM(pr0.pr / deg.d) AS mass
            FROM e JOIN pr0 ON pr0.node = e.src
            JOIN deg ON deg.node = e.src
            GROUP BY 1),
    pr1 AS (SELECT nodes.node,
                   0.15 / nn.n + 0.85 * COALESCE(in1.mass, 0) AS pr
            FROM nodes CROSS JOIN nn
            LEFT JOIN in1 ON in1.node = nodes.node),
    in2 AS (SELECT e.dst AS node, SUM(pr1.pr / deg.d) AS mass
            FROM e JOIN pr1 ON pr1.node = e.src
            JOIN deg ON deg.node = e.src
            GROUP BY 1),
    pr2 AS (SELECT nodes.node,
                   0.15 / nn.n + 0.85 * COALESCE(in2.mass, 0) AS pr
            FROM nodes CROSS JOIN nn
            LEFT JOIN in2 ON in2.node = nodes.node)
    SELECT node, ROUND(pr, 9) AS pr FROM pr2
    """,
)
def q106_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 rounds, d=0.85) over the customer-supplier trade
    graph (distinct (customer, supplier) pairs through
    orders x lineitem, symmetrized) — the mass-propagation fixpoint
    beside the components fixpoint (q56/q83): which suppliers sit at
    the center of the purchase network.

    Per round: ONE rank/out-degree join riding the edge list + ONE
    partial-aggregated inflow sum — linear in |E|; the node count is a
    broadcast 1-row aggregate, never a driver constant
    (``operators/graph.py:pagerank``).  The oracle unrolls both rounds
    in SQL (same contract as the k-means oracle) and compares ROUNDED
    ranks over ALL nodes, so the propagation math is hash-checked, not
    sampled."""
    from .operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, iters=2, damping=0.85)
    return ranks.select("node", F.round("pr", 9).alias("pr"))


@register(
    "q107_data_quality_audit",
    """
    SELECT 'fk_orders_customer' AS chk,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_violations,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'unique_o_orderkey',
           CAST((SELECT COALESCE(sum(n - 1), 0) FROM (
                   SELECT count(*) AS n FROM orders
                   GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'null_o_custkey',
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'nonneg_c_acctbal',
           CAST((SELECT count(*) FROM customer WHERE c_acctbal < 0)
                AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)
    UNION ALL
    SELECT 'positive_o_totalprice',
           CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0)
                AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    """,
)
def q107_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit — the expectations report a pipeline gates
    ingestion on: referential integrity (orphan orders, LEFT ANTI
    against the broadcast key set), key uniqueness (surplus rows per
    duplicated key), null checks, and domain checks, each reported as
    (check, violations, checked) so clean checks PROVE cleanliness
    rather than vanishing.  The negative-balance check fires on this
    data (TPC-H allows debt), so the violation path is live.

    Shape: ONE conditional-aggregation pass per table (r7 — this used
    to be 7 driver actions / 5 scans of orders, with a docstring
    apologizing for it).  The FK check rides the same orders pass as a
    broadcast LEFT join against the distinct key column
    (broadcastable far beyond any dimension's realistic key count)
    counting unmatched rows; uniqueness is the identity
    Σ_keys(n_k - 1 | n_k > 1) = count(*) - count(distinct key), so no
    per-key aggregate is materialized; nulls and domain checks are
    conditional sums in the same aggregates.  Two jobs total at any
    scale."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    c = cust.agg(
        F.count("*").alias("n_cust"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
        .cast("long")
        .alias("neg_bal"),
    ).head()
    # LEFT join (not anti) so the FK violation count shares the scan
    # with every other orders check: unmatched rows keep c_custkey
    # NULL, exactly the rows the anti join would have kept (a NULL
    # o_custkey never matches, so it counts as an orphan — same as the
    # anti-join form this replaced).
    o = (
        orders.join(
            # distinct: a LEFT join (unlike the anti join it replaced)
            # would duplicate order rows under build-side key dupes
            F.broadcast(cust.select("c_custkey").distinct()),
            orders["o_custkey"] == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("nullkeys"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("orphans"),
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("nulls"),
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
            .cast("long")
            .alias("nonpos"),
        )
        .head()
    )
    # sums over zero rows are NULL — report zeros, like the per-check
    # counts this fused pass replaced (r7 review catch)
    n_orders = int(o.n_orders)
    nullkeys = int(o.nullkeys or 0)
    # Σ_keys(n_k - 1 | n_k > 1): countDistinct ignores NULL keys, but
    # GROUP BY (the check's spec, and the oracle) treats NULLs as ONE
    # group contributing max(K-1, 0) for K null rows.  With D = count
    # of distinct non-null keys: surplus = (N-K) - D + max(K-1, 0)
    # = N - D - (1 if K > 0 else 0) (r7 review catch).
    dup_surplus = n_orders - int(o.n_keys) - min(nullkeys, 1)
    report = [
        ("fk_orders_customer", int(o.orphans or 0), n_orders),
        ("unique_o_orderkey", dup_surplus, n_orders),
        ("null_o_custkey", int(o.nulls or 0), n_orders),
        ("nonneg_c_acctbal", int(c.neg_bal or 0), int(c.n_cust)),
        ("positive_o_totalprice", int(o.nonpos or 0), n_orders),
    ]
    return spark.createDataFrame(
        report, "chk: string, n_violations: long, n_checked: long"
    )


@register(
    "q108_incremental_agg",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e6,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) // count(*)
                AS BIGINT) AS avg_value_e6
    FROM events
    GROUP BY user_id
    """,
)
def q108_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view
    refresh shape: the per-user rollup is NOT recomputed from the full
    log; a frozen 'historical' partial table (events before
    2024-01-20) merges with the new tail's partials by PARTIAL-STATE
    ADDITION (counts add, sums add, avg derives from the merged
    partials — never averaged averages).  The oracle computes the same
    rollup directly over the whole log, so the hash check IS the
    refresh-correctness statement: merge(part(A), part(B)) == agg(A+B).
    Values ride the integer-micro grid (floor(value*1e6+0.5), the e4
    cents-grid posture): partial ADDITION is then exact, so the
    merge==direct identity holds bit-for-bit instead of depending on
    float summation order (a 6dp rounding boundary flipped 10 of 1500
    users at sf0.1 in the float form — r6 sweep catch).

    At 100 TB this is the difference between scanning one day and
    rescanning a year: any commutative-partial aggregate (count, sum,
    min, max, HLL, count-min) maintains this way; q105 does the same
    for sketches in the streaming plane."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-20").cast("timestamp")

    v_e6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum(v_e6).alias("s")
        )

    hist = partials(ev.filter(F.col("ts") < cut))
    delta = partials(ev.filter(F.col("ts") >= cut))
    merged = (
        hist.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("n").alias("n_events"), F.sum("s").alias("sum_value"))
    )
    return merged.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("long").alias("sum_value_e6"),
        F.expr("sum_value div n_events").cast("long").alias(
            "avg_value_e6"
        ),
    )


@register(
    "q109_large_volume_orders",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_custkey, o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS total_price,
           ROUND(big.sum_qty, 2) AS sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q109_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders — the TPC-H Q18 shape (grouped HAVING
    subquery driving the join): orders whose lineitems total > 250
    units, joined back to order and customer.

    Shape: the HAVING aggregate reduces lineitem to qualifying keys
    BEFORE any join (partial-aggregated, ~1% selectivity), then two
    hash joins — the qualifying-key set broadcasts, so neither fact
    table shuffles for the join.  The anti-shape (joining first,
    filtering after) would shuffle all of lineitem x orders."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = (
        F.broadcast(big)
        .join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
    )
    return j.select(
        "c_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round("sum_qty", 2).alias("sum_qty"),
    )


def _jl_sign(i: int, j: int) -> int:
    """+-1 from the parity of md5('jl{i}_{j}')'s first hex char —
    reproducible ANYWHERE md5 exists (the oracle regenerates the same
    matrix in SQL), so the 'random' projection needs no shipped state."""
    import hashlib

    h = hashlib.md5(f"jl{i}_{j}".encode()).hexdigest()
    return 1 if ord(h[0]) % 2 == 0 else -1


_JL_IN, _JL_OUT = 64, 16


@register(
    "q110_jl_projection",
    f"""
    WITH dims AS (SELECT j FROM generate_series(1, {_JL_OUT}) d(j)),
    signs AS (
      SELECT s.i, d.j,
             CASE WHEN ascii(substr(md5('jl' || CAST(s.i AS VARCHAR) || '_'
                                        || CAST(d.j AS VARCHAR)), 1, 1))
                       % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS sg
      FROM generate_series(1, {_JL_IN}) s(i) CROSS JOIN dims d
    )
    SELECT e.vec_id, CAST(signs.j AS BIGINT) AS dim,
           ROUND(SUM(CAST(e.embedding[signs.i] AS DOUBLE) * signs.sg)
                 / sqrt({_JL_OUT}), 6) AS v
    FROM embeddings e CROSS JOIN signs
    GROUP BY 1, 2
    """,
)
def q110_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 -> 16 dims,
    Achlioptas +-1 signs) — the dimensionality-reduction step that
    makes brute-force ANN 4x cheaper while approximately preserving
    pairwise distances.  The sign matrix is DERIVED, not stored:
    entry (i, j) comes from md5 parity, so the driver, every executor,
    and the SQL oracle regenerate the identical matrix from nothing —
    the same no-shipped-state trick as the md5 sampling draws (q50).

    Shape: 16 output dims = 16 codegen ``aggregate``/``zip_with``
    expressions over broadcast sign literals in ONE projection riding
    the scan — no shuffle at all (plan-pinned: the flat (vec, dim, v)
    emission is a scan-side posexplode of the projected array).  The
    oracle rebuilds the matrix in SQL and replays the double sum."""
    emb = load_table(spark, sf_dir, "embeddings")
    import math

    # ONE parsed expression for the whole 16x64 projection: the
    # Column-API form cost ~1100 py4j round trips (~1.1 s of driver
    # time per BUILD, and the bench times builds — r12 opt).  Literal
    # text round-trips bit-identically (repr + Double.parseDouble).
    def _signs(j: int) -> str:
        return "array(" + ",".join(
            repr(float(_jl_sign(i, j))) + "D" for i in range(1, _JL_IN + 1)
        ) + ")"

    proj = F.expr(
        "array(" + ",".join(
            "round(aggregate(zip_with(embedding, "
            f"{_signs(j)}, (a, s) -> CAST(a AS DOUBLE) * s), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / "
            f"{repr(math.sqrt(_JL_OUT))}D, 6)"
            for j in range(1, _JL_OUT + 1)
        ) + ")"
    )
    return emb.select(
        "vec_id", F.posexplode(proj).alias("dim0", "v")
    ).select(
        "vec_id", (F.col("dim0") + 1).cast("long").alias("dim"), "v"
    )


@register(
    "q111_ann_recall",
    f"""
    SELECT CAST(10 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_overlap,
           ROUND(count(*) / 10.0, 4) AS recall
    FROM ({{q13}}) ex JOIN ({{q28}}) ap USING (vec_id)
    """.format(q13=ORACLE["q13_knn_cosine"], q28=ORACLE["q28_ivf_ann"]),
)
def q111_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation IN the engine: recall@10 of the IVF probe
    (q28) against the exact brute-force top-10 (q13) — the metric every
    ANN deployment monitors (cell count / n_probe tuning is a recall
    <-> cost dial; this query is the dial's readout).  Composes the two
    existing plans and intersects their result sets; the oracle
    composes the same two oracles, so the measurement itself is
    hash-checked."""
    exact = QUERIES["q13_knn_cosine"](spark, sf_dir).select("vec_id")
    approx = QUERIES["q28_ivf_ann"](spark, sf_dir).select("vec_id")
    overlap = exact.join(approx, "vec_id")
    return overlap.agg(
        F.lit(10).cast("long").alias("k"),
        F.count("*").alias("n_overlap"),
        F.round(F.count("*") / 10.0, 4).alias("recall"),
    )


@register(
    "q112_temporal_dim_join",
    """
    WITH dim AS ({q102}),
    p AS (SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
          FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.user_id, p.event_id, p.ts_sec, d.version, d.val,
             row_number() OVER (
               PARTITION BY p.user_id, p.event_id
               ORDER BY d.valid_from DESC, d.version DESC, d.val DESC
             ) AS rk
      FROM p JOIN dim d
        ON d.user_id = p.user_id AND d.valid_from <= p.ts_sec
    )
    SELECT user_id, event_id, ts_sec, version,
           ROUND(val, 2) AS val_at_purchase
    FROM cand WHERE rk = 1
    """.format(q102=ORACLE["q102_scd2_dimension"]),
)
def q112_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) dimension join — the query every SCD2
    table exists FOR: each purchase joined to the dimension version
    that was valid AT ITS TIMESTAMP, never the current one (the
    look-ahead-bias bug backtesting/feature pipelines guard against).

    Shape: the as-of union-sort-carry (q26/q48's ONE-exchange pattern,
    ``operators/windows.py:asof_join``) against q102's oracle-verified
    version table: probes and version-starts union, sort once per user,
    carry the latest (valid_from, version, val) struct — no interval
    join, no per-probe range scan.  Equal-timestamp version ties break
    by max (version, val) struct order, mirrored in the oracle's DESC
    ranking.  The oracle composes q102's SQL verbatim, so the
    dimension build and its consumption are checked END-TO-END."""
    from .operators.windows import asof_join

    dim = QUERIES["q102_scd2_dimension"](spark, sf_dir).select(
        "user_id",
        "version",
        "val",
        F.timestamp_seconds(F.col("valid_from")).alias("vf_ts"),
    )
    probes = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.col("ts"))
    )
    j = asof_join(
        probes,
        dim,
        on="user_id",
        left_ts="ts",
        right_ts="vf_ts",
        value_cols=["version", "val"],
        direction="backward",
    )
    return j.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        F.col("asof_version").alias("version"),
        F.round("asof_val", 2).alias("val_at_purchase"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _q113_sql() -> str:
    stats = []
    for c in _PROFILE_COLS:
        stats.append(
            f"""
    SELECT 'stat' AS kind, '{c}' AS a, '{c}' AS b,
           CAST(count({c}) AS DOUBLE) AS v1,
           ROUND(avg({c}), 6) AS v2,
           ROUND(stddev_samp({c}), 6) AS v3
    FROM lineitem"""
        )
    corrs = []
    for i, a in enumerate(_PROFILE_COLS):
        for b in _PROFILE_COLS[i + 1 :]:
            corrs.append(
                f"""
    SELECT 'corr' AS kind, '{a}' AS a, '{b}' AS b,
           ROUND(corr({a}, {b}), 6) AS v1,
           0.0 AS v2, 0.0 AS v3
    FROM lineitem"""
            )
    return "\nUNION ALL".join(stats + corrs)


@register("q113_numeric_profile", _q113_sql())
def q113_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profiling + correlation matrix — the statistics
    block of a data card (and the drift-detection baseline a feature
    pipeline snapshots per release): per-column count/mean/stddev and
    all pairwise Pearson correlations over lineitem's numeric columns.

    Shape: ALL 4 column profiles and ALL 6 correlations compute in ONE
    scan + ONE partial-aggregated reduce — `corr` and `stddev_samp`
    are algebraic aggregates (sum / sum-of-squares / cross-product
    partials), so the shuffle carries a constant ~20 doubles total
    regardless of row count.  The row-per-statistic UNION layout in
    the oracle is presentation; Spark computes the partials once and
    emits the same rows."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).cast("double").alias(f"cnt_{c}"),
            F.round(F.avg(c), 6).alias(f"avg_{c}"),
            F.round(F.stddev_samp(c), 6).alias(f"sd_{c}"),
        ]
    for i, a in enumerate(_PROFILE_COLS):
        for b in _PROFILE_COLS[i + 1 :]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"corr_{a}_{b}"))
    one = li.agg(*aggs)
    rows = []
    for c in _PROFILE_COLS:
        rows.append(
            F.struct(
                F.lit("stat").alias("kind"),
                F.lit(c).alias("a"),
                F.lit(c).alias("b"),
                F.col(f"cnt_{c}").alias("v1"),
                F.col(f"avg_{c}").alias("v2"),
                F.col(f"sd_{c}").alias("v3"),
            )
        )
    for i, a in enumerate(_PROFILE_COLS):
        for b in _PROFILE_COLS[i + 1 :]:
            rows.append(
                F.struct(
                    F.lit("corr").alias("kind"),
                    F.lit(a).alias("a"),
                    F.lit(b).alias("b"),
                    F.col(f"corr_{a}_{b}").alias("v1"),
                    F.lit(0.0).alias("v2"),
                    F.lit(0.0).alias("v3"),
                )
            )
    return one.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.kind", "r.a", "r.b", "r.v1", "r.v2", "r.v3"
    )


@register("q114_bpe_merges", None)
def q114_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning over the corpus — tokenizer preparation as
    DataFrame iterations (``operators/bpe.py``): aggregate word
    frequencies ONCE (the corpus is never re-touched), then each round
    counts adjacent symbol pairs over the vocab-sized table and applies
    the winning merge as a codegen fold.  Output: the first 8 learned
    merges in order with their pair counts.

    Rows-only at the driver contract (the greedy merge fold has no
    DuckDB equivalent — list_reduce cannot carry a list accumulator);
    the classic worked example (lowest/newest/widest -> 'es', 'est',
    ...), run-handling ('aaa' under (a,a)), reconstruction, and
    length-accounting invariants are pinned in ``tests/test_bpe.py``."""
    from .operators.bpe import bpe_learn

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("w"))
    )
    merges, _ = bpe_learn(words, n_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)],
        "step: long, left: string, right: string, merged: string, pair_count: long",
    )


@register(
    "q115_audio_decode",
    """
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
    s AS (
      SELECT doc_id,
             ('0x' || substr(hx, 4 * g.i - 3, 2))::BIGINT
               + 256 * ('0x' || substr(hx, 4 * g.i - 1, 2))::BIGINT AS raw
      FROM h CROSS JOIN generate_series(1, 8) g(i)
    ),
    a AS (SELECT doc_id,
                 abs(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END)
                   AS amp
          FROM s)
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(8 AS INTEGER) AS n_frames,
           ROUND(8 / 8000.0, 6) AS duration_s,
           ROUND(avg(amp), 6) AS mean_abs,
           CAST(max(amp) AS INTEGER) AS peak_abs
    FROM a GROUP BY doc_id
    """,
)
def q115_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, driver-verified — the audio leg of the
    multimodal family beside q76's images: each document gets a PCM-16
    mono WAV payload whose 8 samples are the 16 bytes of
    ``unhex(md5(text))`` little-endian, built as a JVM binary
    projection; the pure-numpy RIFF parser
    (``multimodal.decode_wav``) decodes actual samples in the Arrow
    mapInPandas stage and reports rate / frames / duration / mean |amp|
    / peak.  The oracle recomputes the same int16 arithmetic from the
    md5 hex in SQL, so a hash match proves the DECODER (chunk walk,
    sample layout, sign handling) — not a fake.  Compressed audio
    (mp3/ogg) stays behind the same env-gated boundary as JPEG/PNG."""
    from .operators.multimodal import extract_audio_features

    docs = load_table(spark, sf_dir, "documents")
    data_len = 16
    hdr = (
        b"RIFF" + (36 + data_len).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + data_len.to_bytes(4, "little")
    )
    payloads = docs.select(
        "doc_id",
        F.concat(F.lit(hdr), F.unhex(F.md5("text"))).alias("payload"),
    )
    return extract_audio_features(payloads).select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_frames",
        "duration_s",
        "mean_abs",
        "peak_abs",
    )


@register(
    "q116_skyline",
    """
    WITH o AS (
      SELECT o_orderkey, o_totalprice AS price,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS d
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT a.o_orderkey, ROUND(a.price, 2) AS price, a.d AS date_sec
    FROM o a
    WHERE NOT EXISTS (
      SELECT 1 FROM o b
      WHERE b.price <= a.price AND b.d >= a.d
        AND (b.price < a.price OR b.d > a.d)
    )
    """,
)
def q116_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of urgent orders — cheapest-yet-most-
    recent: rows no other row beats on BOTH price (lower better) and
    order date (later better).  The multi-objective shortlist shape
    (candidate selection, quality-vs-cost curation cuts) that naive SQL
    writes as the O(n^2) NOT EXISTS the oracle uses.

    Distributed shape — the two-phase grid skyline: phase 1 bins price
    into 64 fixed-width cells (bounds from ONE 1-row agg), takes each
    cell's max date, and broadcasts the 64-entry strictly-lower-cell
    prefix maxima — any row an earlier cell already beats dies AT THE
    SCAN (a cheaper cell containing a later date dominates it).  Only
    the surviving sliver (frontier-adjacent rows, ~cells x a few) takes
    the exact pass: distinct (price, date) pairs through one ascending
    sort with a running date maximum.  Every true skyline row provably
    survives phase 1 (its dominator would have to exist in a cheaper
    cell), so the two-phase answer EQUALS the quadratic definition —
    which is exactly what the oracle checks."""
    from .operators.windows import skyline_2d

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.unix_timestamp("o_orderdate").alias("d"),
        )
    )
    return skyline_2d(o, minimize="price", maximize="d").select(
        "o_orderkey",
        F.round("price", 2).alias("price"),
        F.col("d").alias("date_sec"),
    )


@register(
    "q117_weighted_topk_sample",
    """
    WITH d AS (
      SELECT doc_id, n_chars,
             (('0x' || substr(md5('esk' || '|' || CAST(doc_id AS VARCHAR)),
                              1, 13))::BIGINT + 0.5)
               / 4503599627370496.0 AS u
      FROM documents),
    k AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                 ROUND(ln(u) / n_chars, 9) AS es_key
          FROM d)
    SELECT doc_id, weight, es_key FROM k
    ORDER BY es_key DESC, doc_id LIMIT 20
    """,
)
def q117_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exact-k — the
    Efraimidis-Spirakis A-Res scheme: each row draws key
    u^(1/weight) (evaluated as ln(u)/weight, same ordering, better
    conditioning) and the k largest keys ARE a weighted k-sample.
    Complements q85's weighted Bernoulli (random size) with the
    fixed-size draw every mixture builder actually requests.

    Scale shape: the key is one codegen expression over the same
    md5(seed|id) 52-bit draw family as every sampler here (+0.5 keeps
    u strictly inside (0,1)); top-k is TakeOrdered on the ROUNDED key
    with id tie-break — no shuffle, no rand(), retry/repartition-
    stable, and the oracle replays the identical arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("esk|"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
    )
    return keyed.orderBy(F.desc("es_key"), F.asc("doc_id")).limit(20)


@register(
    "q118_split_leakage_audit",
    None,  # placeholder replaced below with the q58-threshold SQL
)
def q118_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit — the check every dataset release runs
    after splitting: exact-content fingerprints that appear in more
    than one split (an eval doc with a training twin inflates scores).
    Composes the deterministic split assignment (q58's md5 thresholds)
    with the 100-char normalized-prefix fingerprint — the cheap
    near-dup BLOCKING key (raw exact hashes miss the paraphrased twin;
    the full near-dup audit swaps in a MinHash band key on the same
    one-exchange plan) — so the audit is reproducible across reruns
    and corpus growth, and the leakage path is LIVE on this corpus
    (prefix twins do straddle the split boundary).

    Shape: fingerprint + split are scan-side projections; ONE
    partial-aggregated groupBy(fingerprint) carrying (distinct-split,
    count) partials; the HAVING filter keeps only leaking groups.  At
    100 TB this is the same one-exchange profile as exact dedup (q11)
    — and the near-dup generalization just swaps the fingerprint for
    a MinHash band key."""
    from .operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    assigned = split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id"
    )
    norm_prefix = F.md5(
        F.trim(
            F.regexp_replace(F.lower(F.substring("text", 1, 100)), r"\s+", " ")
        )
    )
    fp = assigned.select(norm_prefix.alias("fp"), "split")
    g = fp.groupBy("fp").agg(
        F.countDistinct("split").cast("long").alias("n_splits"),
        F.count("*").alias("n_docs"),
        F.concat_ws(",", F.array_sort(F.collect_set("split"))).alias(
            "splits"
        ),
    )
    return g.filter(F.col("n_splits") > 1).select(
        "fp", "n_splits", "n_docs", "splits"
    )


@register(
    "q119_decile_profile",
    """
    WITH c AS (
      SELECT o_totalprice AS price,
             cume_dist() OVER (ORDER BY o_totalprice) AS cd
      FROM orders
    ),
    b AS (SELECT price,
                 LEAST(9, CAST(floor(cd * 10) AS BIGINT)) AS decile
          FROM c)
    SELECT decile, CAST(count(*) AS BIGINT) AS n,
           ROUND(min(price), 2) AS lo,
           ROUND(max(price), 2) AS hi,
           ROUND(avg(price), 6) AS mean
    FROM b GROUP BY decile
    """,
)
def q119_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile profile of order prices WITHOUT a global sort — the
    rank-bucket report (deciles/percentile bands) every distribution
    dashboard shows, built scale-right: NTILE/cume_dist windows order
    the WHOLE table in one task; here cume_dist(price) is computed as
    cnt_le(price)/n from a per-price histogram + cumulative pass over
    the DISTINCT price table (q84's histogram-crossing posture —
    cardinality bounded by price granularity, not row count), joined
    back broadcast.  Tie-stable by construction (tied prices share a
    cume_dist, unlike NTILE's arbitrary tie split), so the oracle's
    window formulation matches exactly."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    hist = orders.groupBy(F.col("o_totalprice").alias("price")).agg(
        F.count("*").alias("cnt")
    )
    n = orders.count()
    w = Window.orderBy("price").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # cumulative pass over the DISTINCT-price table (bounded), not rows
    cum = hist.withColumn("cnt_le", F.sum("cnt").over(w)).select(
        "price", "cnt_le"
    )
    bucketed = orders.join(
        F.broadcast(cum), orders["o_totalprice"] == cum["price"]
    ).select(
        "o_totalprice",
        F.least(
            F.lit(9),
            F.floor(F.col("cnt_le") / F.lit(float(n)) * 10).cast("long"),
        ).alias("decile"),
    )
    return bucketed.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.avg("o_totalprice"), 6).alias("mean"),
    )


@register(
    "q120_markov_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    t AS (SELECT prev, event_type AS nxt FROM o WHERE prev IS NOT NULL),
    c AS (SELECT prev, nxt, count(*) AS n FROM t GROUP BY 1, 2),
    r AS (SELECT prev, sum(n) AS row_n FROM c GROUP BY 1)
    SELECT c.prev, c.nxt, CAST(c.n AS BIGINT) AS n,
           ROUND(c.n / r.row_n, 6) AS p
    FROM c JOIN r USING (prev)
    """,
)
def q120_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: counts
    and row-normalized probabilities of (previous event type -> next
    event type) over per-user ordered histories — the behavioral model
    behind next-action prediction baselines and anomaly scoring (a
    session whose transitions are improbable under this matrix is the
    sequence-level analogue of q95's improbable bigrams).

    Shape: ONE shuffle by user feeds the lag; the transition counts
    and row totals are two partial-aggregated groupBys over the
    |types|^2-bounded matrix; normalization joins broadcast."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select("prev", F.col("event_type").alias("nxt"))
    )
    # the |types|^2 matrix is consumed twice (probabilities + row
    # totals); caching it runs the lag pipeline ONCE (q100's posture)
    c = t.groupBy("prev", "nxt").agg(F.count("*").alias("n")).cache()
    r = c.groupBy("prev").agg(F.sum("n").alias("row_n"))
    return (
        c.join(F.broadcast(r), "prev")
        .select(
            "prev",
            "nxt",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("row_n"), 6).alias("p"),
        )
    )


@register(
    "q121_psi_drift",
    """
    WITH b AS (
      SELECT source, LEAST(9, CAST(floor(n_chars / 400.0) AS BIGINT)) AS bin
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    c AS (SELECT source, bin, count(*) AS n FROM b GROUP BY 1, 2),
    t AS (SELECT source, sum(n) AS tot FROM c GROUP BY 1),
    bins AS (SELECT g.i - 1 AS bin FROM generate_series(1, 10) g(i)),
    p AS (
      SELECT bins.bin,
             COALESCE(c0.n, 0) / CAST(t0.tot AS DOUBLE) + 1e-6 AS p0,
             COALESCE(c1.n, 0) / CAST(t1.tot AS DOUBLE) + 1e-6 AS p1
      FROM bins
      LEFT JOIN (SELECT * FROM c WHERE source = 'src0') c0 USING (bin)
      LEFT JOIN (SELECT * FROM c WHERE source = 'src1') c1 USING (bin)
      CROSS JOIN (SELECT tot FROM t WHERE source = 'src0') t0
      CROSS JOIN (SELECT tot FROM t WHERE source = 'src1') t1
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           ROUND(p0, 6) AS p_base, ROUND(p1, 6) AS p_new,
           ROUND((p1 - p0) * ln(p1 / p0), 6) AS psi_term
    FROM p
    """,
)
def q121_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two sources' length
    distributions — THE production drift monitor (did the new crawl
    shift the distribution the filters were tuned on?): fixed 400-char
    bins, per-bin proportions with a 1e-6 floor (the standard PSI
    smoothing so empty bins don't blow up the log), per-bin PSI terms
    whose sum is the drift score (< 0.1 stable, > 0.25 action).

    Shape: ONE partial-aggregated (source, bin) count over the scan,
    tiny totals crossJoin-broadcast, per-bin arithmetic over a 10-row
    frame — at 100 TB this is a fixed-size report off one pass, and
    pairing it with q113's profile gives the full drift dashboard."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    b = docs.select(
        "source",
        F.least(F.lit(9), F.floor(F.col("n_chars") / 400.0)).cast("long").alias(
            "bin"
        ),
    )
    c = b.groupBy("source", "bin").agg(F.count("*").alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    bins = spark.range(10).select(F.col("id").alias("bin"))
    c0 = c.filter(F.col("source") == "src0").select("bin", F.col("n").alias("n0"))
    c1 = c.filter(F.col("source") == "src1").select("bin", F.col("n").alias("n1"))
    t0 = t.filter(F.col("source") == "src0").select(F.col("tot").alias("tot0"))
    t1 = t.filter(F.col("source") == "src1").select(F.col("tot").alias("tot1"))
    p = (
        bins.join(F.broadcast(c0), "bin", "left")
        .join(F.broadcast(c1), "bin", "left")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .select(
            "bin",
            (
                F.coalesce("n0", F.lit(0)) / F.col("tot0").cast("double")
                + F.lit(1e-6)
            ).alias("p0"),
            (
                F.coalesce("n1", F.lit(0)) / F.col("tot1").cast("double")
                + F.lit(1e-6)
            ).alias("p1"),
        )
    )
    return p.select(
        F.col("bin").cast("long").alias("bin"),
        F.round("p0", 6).alias("p_base"),
        F.round("p1", 6).alias("p_new"),
        F.round(
            (F.col("p1") - F.col("p0")) * F.log(F.col("p1") / F.col("p0")), 6
        ).alias("psi_term"),
    )


def _q118_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    t80, t90 = fraction_threshold_hex(0.8), fraction_threshold_hex(0.9)
    return rf"""
    WITH d AS (
      SELECT md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                     '\s+', ' ', 'g'))) AS fp,
             CASE WHEN substr(md5('split1' || '|' || CAST(doc_id AS VARCHAR)),
                              1, 28) < '{t80}' THEN 'train'
                  WHEN substr(md5('split1' || '|' || CAST(doc_id AS VARCHAR)),
                              1, 28) < '{t90}' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT fp, CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           CAST(count(*) AS BIGINT) AS n_docs,
           string_agg(DISTINCT split, ',' ORDER BY split) AS splits
    FROM d GROUP BY fp HAVING count(DISTINCT split) > 1
    """


ORACLE["q118_split_leakage_audit"] = _q118_sql()



# --------------------------------------------------------------------------
# Round-4 continuation: time-series completeness, anomaly detection,
# interval concurrency
# --------------------------------------------------------------------------


@register(
    "q122_gapfill_daily",
    """
    WITH o AS (SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS day,
                      o_custkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
    spine AS (SELECT n_name, unnest(generate_series(b.lo, b.hi)) AS day
              FROM nation, b),
    rev AS (SELECT n.n_name, o.day,
                   sum(o.cents) AS rev, count(*) AS n
            FROM o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2)
    SELECT s.n_name, CAST(s.day AS BIGINT) AS day,
           CAST(COALESCE(r.rev, 0) AS BIGINT) AS revenue_cents,
           CAST(COALESCE(r.n, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN rev r ON s.n_name = r.n_name AND s.day = r.day
    """,
)
def q122_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily revenue series per nation — the time-series
    completeness primitive every downstream window/forecast step needs
    (a missing day must be an explicit zero row, not an absent row, or
    every moving average silently shortens its denominator).

    Shape: the (lo, hi) day bounds are ONE 1-row aggregate broadcast
    into a ``sequence()`` + ``explode`` spine generated scan-free on
    the 25-row nation dim — |nations| x |days| rows materialized
    distributed, never on the driver.  The revenue side partial-
    aggregates to (nation, day) in INTEGER CENTS before the spine
    join (the q123 exactness rule: a ROUND(sum(double)) here would be
    a latent cross-engine boundary flip), so the left join's build
    side is the small aggregate, not raw orders.  At
    100 TB the spine is still only dims x days (~1e6 rows/decade) —
    this plan is scale-invariant."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = orders.select(
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("long")
        .alias("day"),
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    bounds = o.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = (
        nation.select("n_name")
        .crossJoin(F.broadcast(bounds))
        .select(
            "n_name",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"),
        )
    )
    rev = (
        o.join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "day")
        .agg(F.sum("cents").alias("rev"), F.count("*").alias("n"))
    )
    # rev is bounded by dims x days (like the spine itself) — broadcast
    # it so the left join never sorts, at any fact-table scale
    return spine.join(F.broadcast(rev), ["n_name", "day"], "left").select(
        "n_name",
        F.col("day").cast("long").alias("day"),
        F.coalesce("rev", F.lit(0)).cast("long").alias("revenue_cents"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
    )


@register(
    "q123_moving_anomaly",
    """
    WITH o AS (SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS day,
                      o_custkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    rev AS (SELECT n.n_name, o.day, sum(o.cents) AS rev_cents
            FROM o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2),
    w AS (SELECT n_name, day, rev_cents,
                 CAST(sum(rev_cents) OVER win AS BIGINT) AS s,
                 count(*) OVER win AS n_win
          FROM rev
          WINDOW win AS (PARTITION BY n_name ORDER BY day
                         RANGE BETWEEN 27 PRECEDING AND 1 PRECEDING))
    SELECT n_name, CAST(day AS BIGINT) AS day,
           ROUND(rev_cents / 100.0, 2) AS revenue,
           CAST(s AS BIGINT) AS trailing_cents,
           CAST(n_win AS BIGINT) AS n_win,
           CAST((rev_cents * n_win * 1000) // s AS BIGINT) AS ratio_permille
    FROM w
    WHERE n_win >= 7 AND s > 0
      AND (rev_cents * n_win > 2 * s OR 2 * rev_cents * n_win < s)
    """,
)
def q123_moving_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: per (nation, day) revenue
    versus the PRECEDING 28-day mean (RANGE frame 27..1 PRECEDING —
    the current day is excluded so a spike cannot mask itself),
    flagging days over 2x or under 0.5x the trailing mean once at
    least 7 trailing days exist.  The drift/incident monitor a
    pipeline runs on every ingest batch.

    Exactness is engineered, not hoped for: money is summed as
    INTEGER CENTS (doubles with 2dp are exact once scaled), the
    trailing sum S stays a BIGINT through the window frame, and the
    anomaly predicate is the integer comparison rev*n > 2S, and every
    output column is either exact integers or a 2dp-stable quotient —
    so neither the flagged row SET nor the displayed values can drift
    between engines no matter the accumulation order or the engine's
    ROUND tie-break rule (a float z-score filter flips boundary rows,
    and ROUND(S/n) flips .xxxx5 ties: both observed live against
    DuckDB before this formulation).

    Shape: aggregate-first (orders partial-aggregate to nation x day
    BEFORE any window), then one exchange on n_name (~25 keys at any
    scale) and a per-key event-time RANGE frame.  The window input is
    dims x days, not raw facts, so the skew ceiling is days-per-nation
    — bounded and identical at 100 TB."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.select(
            F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
            .cast("long")
            .alias("day"),
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "day")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    win = Window.partitionBy("n_name").orderBy("day").rangeBetween(-27, -1)
    w = rev.select(
        "n_name",
        "day",
        "rev_cents",
        F.sum("rev_cents").over(win).cast("long").alias("s"),
        F.count("*").over(win).alias("n_win"),
    )
    spike = F.col("rev_cents") * F.col("n_win") > 2 * F.col("s")
    drop = 2 * F.col("rev_cents") * F.col("n_win") < F.col("s")
    return w.filter(
        (F.col("n_win") >= 7) & (F.col("s") > 0) & (spike | drop)
    ).select(
        "n_name",
        F.col("day").cast("long").alias("day"),
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        F.col("s").cast("long").alias("trailing_cents"),
        F.col("n_win").cast("long").alias("n_win"),
        F.expr("(rev_cents * n_win * 1000) div s")
        .cast("long")
        .alias("ratio_permille"),
    )


@register(
    "q124_session_concurrency",
    """
    WITH lagd AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             epoch_us(ts) AS us, event_id
      FROM events),
    marked AS (SELECT user_id, sec, us, event_id,
                      CASE WHEN prev IS NULL OR us - prev > 1800000000
                           THEN 1 ELSE 0 END AS is_new
               FROM lagd),
    sess AS (SELECT user_id, sec,
                    CAST(SUM(is_new) OVER (PARTITION BY user_id
                                           ORDER BY us, event_id) AS BIGINT)
                      AS session_id
             FROM marked),
    iv AS (SELECT min(sec) AS s, max(sec) AS e
           FROM sess GROUP BY user_id, session_id),
    d AS (SELECT s AS t, 1 AS nd FROM iv
          UNION ALL SELECT e + 1, -1 FROM iv),
    net AS (SELECT t, sum(nd) AS nd FROM d GROUP BY t),
    run AS (SELECT t, sum(nd) OVER (ORDER BY t) AS conc,
                   COALESCE(sum(nd) OVER (ORDER BY t ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_conc
            FROM net),
    hb AS (SELECT CAST(floor(t / 3600) * 3600 AS BIGINT) AS bucket_start,
                  conc, prev_conc, t
           FROM run)
    SELECT bucket_start,
           CAST(CASE WHEN min(t) > bucket_start
                     THEN greatest(max(conc), min_by(prev_conc, t))
                     ELSE max(conc) END AS BIGINT) AS max_concurrent
    FROM hb GROUP BY bucket_start
    """,
)
def q124_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions per hour — the capacity-planning
    query (how many sessions were simultaneously open at the worst
    moment of each hour?).  Sessions are q24's 30-minute-gap intervals;
    concurrency is the sweep-line over their [start, end] spans.

    Spark side runs :func:`operators.windows.interval_concurrency` —
    the two-phase distributed sweep (per-bucket prefix maxima in
    parallel + one |buckets|-sized cumulative offset).  The oracle
    deliberately computes it the NAIVE way (one global running sum,
    then per-hour max with carry-in via lag) so the hash match proves
    the decomposition exact, not just plausible."""
    from .operators.windows import interval_concurrency, sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev)
    iv = sess.select(
        (F.col("session_start_us") / 1_000_000).cast("long").alias("s"),
        ((F.col("session_start_us") + F.col("duration_us")) / 1_000_000)
        .cast("long")
        .alias("e"),
    )
    return interval_concurrency(iv, "s", "e", bucket_sec=3600).select(
        "bucket_start", "max_concurrent"
    )


@register(
    "q125_fuzzy_part_match",
    """
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           a.p_name AS a_name, b.p_name AS b_name,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q125_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity-resolution join: near-identical part names
    (edit distance <= 3) found WITHOUT an all-pairs comparison — the
    catalog-dedup / record-linkage primitive.

    Shape: candidates come only from equality BLOCKS on
    (p_brand, p_size) — a plain hash join on the blocking key — so the
    quadratic edit-distance work is Σ|block|², never |corpus|²; the
    same cap-and-block posture as the MinHash/SimHash families
    (``operators/dedup.py``).  ``levenshtein`` is a JVM built-in inside
    whole-stage codegen; no Python touches the hot path.  At 100 TB
    you'd widen blocking to (brand, size, name-prefix) the same way —
    the pattern, not the constant, is what scales."""
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_name").alias("a_name"),
        "p_brand",
        "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_name").alias("b_name"),
        "p_brand",
        "p_size",
    )
    # thresholded levenshtein = banded DP, O(n*k) per pair instead of
    # O(n²); -1 marks beyond-bound pairs, dropped by the >= 0 filter
    # exactly as the old <= 3 filter did (r12 opt, same as q333)
    dist = F.levenshtein("a_name", "b_name", 3)
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("a_key") < F.col("b_key"))
        .filter((dist >= 0) & (dist <= 3))
        .select(
            "a_key", "b_key", "a_name", "b_name",
            dist.cast("long").alias("dist"),
        )
    )


@register(
    "q126_sliding_distinct_users",
    """
    WITH du AS (SELECT DISTINCT
                  CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
    FROM days d JOIN du e ON e.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q126_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day sliding distinct users per day (the WAU curve) WITHOUT the
    range self-join the oracle runs: each distinct (day, user) is
    exploded to the <= 7 future days it covers, then one distinct count
    per cover day.  COUNT DISTINCT over a sliding frame has no
    window-function form (distinct is not decomposable), so the naive
    shape is a range join re-scanning 7x — the cover-expansion turns it
    into two exchanges over |active-days x users| rows with map-side
    combine, the standard scalable form.

    The oracle IS the naive range join, so the hash match proves the
    expansion exact."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / F.lit(86400))
            .cast("long")
            .alias("day"),
            "user_id",
        )
        .distinct()
    )
    days = du.select("day").distinct()
    covered = du.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
        "user_id",
    )
    return (
        covered.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )


@register(
    "q127_bloom_semi_join",
    """
    WITH hv AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l SEMI JOIN hv ON l.l_orderkey = hv.o_orderkey
    GROUP BY l.l_returnflag
    """,
)
def q127_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of line items belonging to high-value orders, probed
    through an explicit BLOOM RUNTIME FILTER: the selective order-key
    set is compressed to an 8 KiB bitmap (``bloom_build``), the fact
    scan pre-filters on it in pure codegen, and an exact semi join
    afterwards removes the false positives — result identical to the
    plain semi join the oracle runs, which is the whole contract of a
    Bloom filter (false positives only, never false negatives).

    At local scale the exact key set would broadcast fine; the point is
    the 100 TB posture, where a selective dim filter still yields tens
    of GB of keys (unbroadcastable) but an 8 KiB Bloom image prunes the
    fact shuffle by the true selectivity before the join pays for the
    survivors.  Spark's own runtime bloomFilter rewrite applies exactly
    this; here it is explicit, testable, and composable with any
    downstream op (``tests/test_bloom.py`` pins the no-false-negative
    guarantee and the measured pruning)."""
    from .operators.sketches import bloom_build, bloom_prefilter

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    hv = orders.filter(F.col("o_totalprice") > 450000).select("o_orderkey")
    bitmap = bloom_build(hv, "o_orderkey")
    pruned = bloom_prefilter(lineitem, "l_orderkey", bitmap)
    exact = pruned.join(
        F.broadcast(hv), pruned.l_orderkey == hv.o_orderkey, "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


@register(
    "q128_triangle_parts",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT a.l_partkey AS x, b.l_partkey AS y
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT e1.x AS a, e1.y AS b, e2.y AS c
    FROM e e1 JOIN e e2 ON e1.y = e2.x
              JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
    """,
)
def q128_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts bought together
    in >= 2 orders) — the community/cohesion primitive behind bundle
    mining and graph features.

    The Spark side runs the DEGREE-ORIENTED enumeration: every
    undirected edge points from its lower-(degree, id) endpoint to the
    higher one, wedges are built only from each vertex's OUT-edges,
    and a final edge-join closes them.  Out-degree under this
    orientation is O(sqrt(m)) regardless of hot vertices — the classic
    bound that keeps the wedge join from exploding on a power-law
    graph, where the naive a<b<c join (which the ORACLE deliberately
    runs) builds every wedge under the hottest vertex.  Triangles are
    re-canonicalized to sorted (a, b, c), so the hash match proves the
    orientation enumerates each triangle exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("x"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("y"))
    edges = (
        a.join(b, "k")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("x", "y")
    )
    deg = (
        edges.select(F.col("x").alias("v"))
        .unionAll(edges.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("dy"))
    ranked = edges.join(dx, "x").join(dy, "y")
    lower_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(lower_first, F.col("y")).otherwise(F.col("x")).alias("w"),
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("v1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("v2"))
    wedges = o1.join(o2, "u").filter(F.col("v1") < F.col("v2"))
    closing = oriented.select(
        F.least("u", "w").alias("cx"), F.greatest("u", "w").alias("cy")
    )
    tri = wedges.join(
        closing,
        (F.least("v1", "v2") == F.col("cx"))
        & (F.greatest("v1", "v2") == F.col("cy")),
    )
    arr = F.array_sort(F.array("u", "v1", "v2"))
    return tri.select(
        arr[0].alias("a"), arr[1].alias("b"), arr[2].alias("c")
    )


@register(
    "q129_basket_pairs",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
    item AS (SELECT l_partkey, count(*) AS ni FROM op GROUP BY 1
             HAVING count(*) >= 5),
    pair AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS nab
             FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
             JOIN item ia ON ia.l_partkey = a.l_partkey
             JOIN item ib ON ib.l_partkey = b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT p.pa, p.pb, CAST(p.nab AS BIGINT) AS support,
           CAST((p.nab * o.n * 1000000) // (ia.ni * ib.ni) AS BIGINT)
             AS lift_ppm
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.pa
    JOIN item ib ON ib.l_partkey = p.pb
    CROSS JOIN n_orders o
    """,
)
def q129_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs with lift — market-basket mining, the
    association step of a recommender / bundling pipeline.

    Apriori pruning does the scaling: items below min-support are
    removed BEFORE pair expansion (a pair can never out-support its
    rarest item, so the prune is lossless — the oracle applies the
    same algebra), which bounds the per-order pair fan-out to frequent
    items only; baskets bound it further (<= C(|basket|, 2)).  Lift is
    emitted as exact integer parts-per-million ((nab*N*1e6) div
    (na*nb)) so no float division can wobble the hash.  Item counts
    broadcast back onto pairs; the 1-row order total rides a broadcast
    crossJoin."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.agg(
        F.count_distinct("l_orderkey").alias("n")
    )
    item = (
        op.groupBy("l_partkey")
        .agg(F.count("*").alias("ni"))
        .filter(F.col("ni") >= 5)
    )
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("ni").alias("na"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("ni").alias("nb"))
    pairs = (
        a.join(F.broadcast(ia), "pa")
        .join(b, "k")
        .join(F.broadcast(ib), "pb")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb", "na", "nb")
        .agg(F.count("*").alias("nab"))
        .filter(F.col("nab") >= 3)
    )
    return pairs.crossJoin(F.broadcast(n_orders)).select(
        "pa",
        "pb",
        F.col("nab").cast("long").alias("support"),
        F.expr("(nab * n * 1000000) div (na * nb)")
        .cast("long")
        .alias("lift_ppm"),
    )


@register(
    "q130_unpivot_metrics",
    """
    WITH c AS (SELECT n.n_name, ROUND(avg(c_acctbal), 6) AS avg_cust_bal,
                      CAST(count(*) AS DOUBLE) AS n_customers
               FROM customer JOIN nation n ON c_nationkey = n_nationkey
               GROUP BY 1),
    s AS (SELECT n.n_name, ROUND(avg(s_acctbal), 6) AS avg_supp_bal,
                 CAST(count(*) AS DOUBLE) AS n_suppliers
          FROM supplier JOIN nation n ON s_nationkey = n_nationkey
          GROUP BY 1)
    SELECT c.n_name, m.metric, m.value FROM c JOIN s ON c.n_name = s.n_name
    CROSS JOIN LATERAL (VALUES ('avg_cust_bal', c.avg_cust_bal),
                               ('n_customers', c.n_customers),
                               ('avg_supp_bal', s.avg_supp_bal),
                               ('n_suppliers', s.n_suppliers))
      AS m(metric, value)
    """,
)
def q130_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT of a per-nation metric table — the melt
    that feeds generic metric stores and dashboards (q54 is the
    pivot; this is its inverse).

    ``DataFrame.unpivot`` (Spark's melt) turns the 4 metric columns
    into (metric, value) rows as a pure scan-side transform — no
    shuffle beyond the two partial-aggregated dims being melted, and
    row growth is x|metrics|, a constant.  The averages round BEFORE
    the melt so both engines stringify identical doubles."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    c = (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.round(F.avg("c_acctbal"), 6).alias("avg_cust_bal"),
            F.count("*").cast("double").alias("n_customers"),
        )
    )
    s = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.round(F.avg("s_acctbal"), 6).alias("avg_supp_bal"),
            F.count("*").cast("double").alias("n_suppliers"),
        )
    )
    wide = c.join(s, "n_name")
    return wide.unpivot(
        "n_name",
        ["avg_cust_bal", "n_customers", "avg_supp_bal", "n_suppliers"],
        "metric",
        "value",
    )


# Frozen tokenizer for q131: learned once (the q114 path), then applied
# as a constant — suffix-building merges over the corpus's frequent words.
_BPE_MERGES = [
    ("d", "a"), ("da", "t"), ("dat", "a"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("r", "o"), ("ro", "w"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
]


def _q131_sql() -> str:
    # Independent formulation: symbols as a space-joined string
    # (' d a t a '), each merge a string replace applied twice (a
    # single non-overlapping replace pass misses back-to-back pattern
    # repeats that the greedy fold catches — the second pass closes
    # them for any word this corpus can hold).
    expr = "' ' || regexp_replace(word, '(.)', '\\1 ', 'g')"
    for a, b in _BPE_MERGES:
        pat, rep = f"' {a} {b} '", f"' {a}{b} '"
        expr = f"replace({expr}, {pat}, {rep})"
        expr = f"replace({expr}, {pat}, {rep})"
    return f"""
    WITH w AS (SELECT doc_id,
                      unnest(list_filter(regexp_split_to_array(lower(text),
                                                               '\\s+'),
                                         x -> x <> '')) AS word
               FROM documents),
    wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
    enc AS (SELECT word,
                   len(list_filter(string_split({expr}, ' '),
                                   x -> x <> '')) AS k
            FROM (SELECT DISTINCT word FROM wc))
    SELECT wc.doc_id, CAST(sum(wc.c) AS BIGINT) AS n_words,
           CAST(sum(wc.c * enc.k) AS BIGINT) AS n_tokens
    FROM wc JOIN enc ON wc.word = enc.word
    GROUP BY 1
    """


@register("q131_bpe_encode", _q131_sql())
def q131_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with a FROZEN BPE merge table — the apply
    side of q114's learn side, and the token-count accounting every
    training-data pipeline runs before packing (q61) or pricing.

    Scale shape is vocab-factored: the greedy merge folds run once per
    DISTINCT word (vocab ~1e6 rows no matter how many TB the corpus
    is), then per-word token counts broadcast-join back onto the
    (doc, word, count) table — the fold never executes per occurrence.
    The oracle is a genuinely independent formulation (symbols as
    space-joined strings, merges as doubled non-overlapping string
    replaces), so the hash match cross-checks the fold's greedy
    left-to-right semantics, not just its arithmetic."""
    from .operators.bpe import bpe_encode_words

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "doc_id", F.explode(tokenize(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    vocab = wc.select("word").distinct()
    enc = bpe_encode_words(vocab, _BPE_MERGES).select("word", "n_tokens")
    return (
        wc.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_tokens")).cast("long").alias("n_tokens"),
        )
    )


@register(
    "q132_first_touch_attribution",
    """
    WITH lagd AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events),
    marked AS (SELECT user_id, event_id, event_type, us,
                      CASE WHEN prev IS NULL OR us - prev > 1800000000
                           THEN 1 ELSE 0 END AS is_new
               FROM lagd),
    sess AS (SELECT user_id, event_type, us, event_id,
                    CAST(SUM(is_new) OVER (PARTITION BY user_id
                                           ORDER BY us, event_id) AS BIGINT)
                      AS session_id
             FROM marked),
    ranked AS (SELECT user_id, session_id, event_type,
                      row_number() OVER (PARTITION BY user_id, session_id
                                         ORDER BY us, event_id) AS rn
               FROM sess),
    conv AS (SELECT user_id, session_id,
                    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS converted
             FROM sess GROUP BY 1, 2),
    per AS (SELECT r.user_id, r.session_id, r.event_type AS first_touch,
                   c.converted
            FROM ranked r JOIN conv c USING (user_id, session_id)
            WHERE r.rn = 1)
    SELECT first_touch, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST((sum(converted) * 1000) // count(*) AS BIGINT)
             AS conv_permille
    FROM per GROUP BY first_touch
    """,
)
def q132_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: which entry event type opens sessions
    that convert to a purchase — the marketing/causal readout layered
    on q24's 30-minute-gap sessions.

    Shape: ONE exchange on user_id serves the lag, the session
    numbering, and the per-session reduction (min_by first event +
    converted flag ride the same aggregate); the final rollup is a
    5-key groupBy.  Conversion rate is integer permille so the hash is
    division-rule-proof.  min_by's (us, event_id) tie-break matches the
    session ordering, so simultaneous first events cannot flip the
    attribution between engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = base.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("is_new").over(
            Window.partitionBy("user_id").orderBy("us", "event_id")
        ).cast("long"),
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", F.struct("us", "event_id")).alias("first_touch"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return per.groupBy("first_touch").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr("(sum(converted) * 1000) div count(*)")
        .cast("long")
        .alias("conv_permille"),
    )


@register(
    "q133_group_median_mad",
    """
    WITH o AS (SELECT o_orderpriority AS pri,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    med AS (SELECT pri, CAST(count(*) AS BIGINT) AS n,
                   median(cents) AS med_cents
            FROM o GROUP BY 1),
    dev AS (SELECT o.pri, abs(o.cents - m.med_cents) AS d
            FROM o JOIN med m ON o.pri = m.pri),
    mad AS (SELECT pri, median(d) AS mad_cents FROM dev GROUP BY 1)
    SELECT m.pri, m.n,
           m.med_cents / 100.0 AS median_price,
           a.mad_cents / 100.0 AS mad_price
    FROM med m JOIN mad a ON m.pri = a.pri
    """,
)
def q133_group_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median and median-absolute-deviation of order
    value — the robust center/spread profile (immune to the outliers
    that wreck mean/stddev) — computed WITHOUT any per-group sort or
    per-group value buffering.

    Both passes are value-HISTOGRAM crossings (the q84/q119 recipe,
    now per group): groupBy (group, value-in-cents) bounds state by
    distinct values, a cumulative window per group finds the ranks
    floor((n+1)/2) and floor(n/2)+1, and their average is the exact
    interpolated median (matching the oracle's ``median()``).  MAD
    re-runs the same crossing on |x - median| after a broadcast join
    of the 5 medians.  No task ever holds a group's raw values — the
    ObjectHashAggregate percentile trap this repo retired in q84 —
    and the histogram cardinality is |distinct prices|, not rows.
    Deviations sit on a half-cent grid, so every emitted number is an
    exact binary fraction: bit-identical across engines, no rounding
    needed."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )

    def crossing_median(df: DataFrame, group: str, val: str) -> DataFrame:
        # ONE aggregation finds both crossing ranks via conditional
        # mins (a lo/hi branch pair would recompute the whole
        # histogram+window subtree twice — measured 2x on this query)
        hist = df.groupBy(group, val).agg(F.count("*").alias("c"))
        w = Window.partitionBy(group).orderBy(val).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = hist.select(
            group, val, F.col("c"), F.sum("c").over(w).alias("cum"),
            F.sum("c").over(Window.partitionBy(group)).alias("n"),
        )
        lo_rank = F.floor((F.col("n") + 1) / 2)
        hi_rank = F.floor(F.col("n") / 2 + 1)
        return cum.groupBy(group).agg(
            F.max("n").cast("long").alias("n"),
            (
                (
                    F.min(F.when(F.col("cum") >= lo_rank, F.col(val)))
                    + F.min(F.when(F.col("cum") >= hi_rank, F.col(val)))
                )
                / 2.0
            ).alias("med"),
        )

    med = crossing_median(o, "pri", "cents")
    dev = o.join(F.broadcast(med), "pri").select(
        "pri", F.abs(F.col("cents") - F.col("med")).alias("d")
    )
    mad = crossing_median(dev, "pri", "d").select(
        "pri", F.col("med").alias("mad_cents")
    )
    return (
        med.join(mad, "pri")
        .select(
            "pri",
            F.col("n").cast("long").alias("n"),
            (F.col("med") / 100.0).alias("median_price"),
            (F.col("mad_cents") / 100.0).alias("mad_price"),
        )
    )


@register(
    "q134_above_nation_average",
    """
    WITH c AS (SELECT c_custkey, c_name, c_nationkey,
                      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
               FROM customer)
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(c.cents / 100.0, 2) AS acctbal,
           CAST(c.cents * s.n - s.s AS BIGINT) AS gap_cents_x_n
    FROM c
    JOIN (SELECT c_nationkey, sum(cents) AS s, count(*) AS n
          FROM c GROUP BY 1) s ON c.c_nationkey = s.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.cents * s.n > s.s
    """,
)
def q134_above_nation_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers richer than their nation's average — the correlated
    scalar subquery (``WHERE bal > (SELECT avg(..) ... same nation)``)
    DECORRELATED into one partial-aggregated groupBy broadcast-joined
    back onto the fact, the rewrite Catalyst applies and the only form
    that scales (the correlated form re-runs the subquery per row).
    The comparison is exact integer algebra (cents*n > sum) and the
    emitted gap is cents*n - sum, so no float average ever exists to
    disagree on."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    c = customer.select(
        "c_custkey", "c_name", "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    stats = c.groupBy("c_nationkey").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    return (
        c.join(F.broadcast(stats), "c_nationkey")
        .filter(F.col("cents") * F.col("n") > F.col("s"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("cents") / 100.0, 2).alias("acctbal"),
            (F.col("cents") * F.col("n") - F.col("s"))
            .cast("long")
            .alias("gap_cents_x_n"),
        )
    )


@register(
    "q135_revenue_share_rank",
    """
    WITH rev AS (SELECT n.n_name,
                        sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
                 FROM orders o
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 JOIN nation n ON c.c_nationkey = n.n_nationkey
                 GROUP BY 1)
    SELECT n_name,
           CAST(cents AS BIGINT) AS rev_cents,
           CAST((cents * 1000000) // (sum(cents) OVER ()) AS BIGINT)
             AS share_ppm,
           CAST(rank() OVER (ORDER BY cents DESC, n_name) AS BIGINT) AS rnk,
           CAST(ntile(4) OVER (ORDER BY cents DESC, n_name) AS BIGINT)
             AS quartile
    FROM rev
    """,
)
def q135_revenue_share_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue with share-of-total (ratio-to-report), dense
    league rank, and quartile tile — the report-window triple on ONE
    25-row aggregate.  The windows run over the aggregate, never the
    facts (the raw orders partial-aggregate to nation first), so the
    unpartitioned window's single task sees |nations| rows at any data
    scale; share is integer ppm off the exact cents total."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("cents").alias("cents"))
    )
    whole = Window.partitionBy()
    order = Window.orderBy(F.desc("cents"), F.asc("n_name"))
    return rev.select(
        "n_name",
        F.col("cents").cast("long").alias("rev_cents"),
        F.expr("cents * 1000000").cast("long").alias("_num"),
        F.sum("cents").over(whole).alias("_tot"),
        F.rank().over(order).cast("long").alias("rnk"),
        F.ntile(4).over(order).cast("long").alias("quartile"),
    ).select(
        "n_name",
        "rev_cents",
        F.expr("_num div _tot").cast("long").alias("share_ppm"),
        "rnk",
        "quartile",
    )


@register(
    "q136_stream_sliding_wau",
    """
    WITH du AS (SELECT DISTINCT
                  CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
                FROM events),
    cov AS (SELECT DISTINCT du.day + t.gs AS day, du.user_id
            FROM du, unnest(generate_series(0, 6)) AS t(gs))
    SELECT day, CAST(count(*) AS BIGINT) AS wau
    FROM cov GROUP BY day
    """,
)
def q136_stream_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 7-day sliding distinct users — cover-expansion +
    watermarked dedup + tumbling count as a CHAINED stateful pipeline
    (see :func:`streaming.runner.stream_sliding_wau`).  Unlike q126
    the cover days are NOT clipped to observed days (a stream cannot
    know the future day-spine), so the curve includes the 6 trailing
    ramp-down days; the oracle expands covers the same way.  Day
    boundaries here are wall-clock UTC days (``date_trunc``), matching
    the oracle's epoch//86400."""
    from .streaming.runner import stream_sliding_wau

    return stream_sliding_wau(spark, sf_dir)


@register(
    "q137_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS revenue_e4,
           CAST(floor(epoch(o.o_orderdate)/86400) AS BIGINT) AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_e4 DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q137_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) THROUGH THE SQL FRONT DOOR — the
    text below goes to ``spark.sql`` verbatim, proving the engine's
    ANSI surface carries the classic 3-table join + group-by + top-k
    without DataFrame help.  Catalyst broadcast-joins the filtered
    customer segment, pushes both date predicates into the scans, and
    TakeOrderedAndProject caps the sort at k=10 (no global sort).
    Revenue aggregates as exact 1e-4-dollar integers (price-cents x
    (100 - discount-points)) so the top-10 cut cannot flip on float
    accumulation order — ties break by orderkey."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT l.l_orderkey,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                        * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                    AS BIGINT) AS revenue_e4,
               CAST(floor(unix_timestamp(o.o_orderdate)/86400) AS BIGINT)
                 AS orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue_e4 DESC, l.l_orderkey
        LIMIT 10
        """
    )


@register(
    "q138_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q138_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) through the SQL front door:
    the 6-table star join with the Q5 twist — the supplier must sit in
    the CUSTOMER's nation, a join predicate between two dimension
    branches, not a star arm.  Catalyst broadcasts every dim
    (region->nation prunes first), leaving ONE shuffle-free pass over
    lineitem/orders; revenue is the same exact 1e-4-dollar integer as
    q137."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                        * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                    AS BIGINT) AS revenue_e4
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY n.n_name
        """
    )


@register(
    "q139_time_weighted_avg",
    """
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                      CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro,
                      event_id
               FROM events),
    seg AS (SELECT user_id, v_micro,
                   lead(sec) OVER (PARTITION BY user_id
                                   ORDER BY sec, event_id) - sec AS dur
            FROM e)
    SELECT user_id,
           CAST(sum(v_micro * dur) AS BIGINT) AS vt_sum,
           CAST(sum(dur) AS BIGINT) AS t_sum,
           CAST(sum(v_micro * dur) // sum(dur) AS BIGINT) AS twa_micro
    FROM seg WHERE dur IS NOT NULL AND dur > 0
    GROUP BY user_id
    """,
)
def q139_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's gauge value — each reading
    holds until the next one, so it weighs by its holding duration
    (the correct rollup for sampled metrics; the arithmetic mean
    over-weights bursts).  The sensor/billing aggregation batch and
    streaming monitoring both need.

    One exchange on user_id carries the lead() and the per-user
    reduction.  Values scale to exact integer micro-units and the
    average is emitted as integer division of two exact sums —
    zero-length segments (same-second readings) drop on both sides, so
    no float ever forms."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("sec"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("v_micro"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seg = e.select(
        "user_id",
        "v_micro",
        (F.lead("sec").over(w) - F.col("sec")).alias("dur"),
    )
    return (
        seg.filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
        .groupBy("user_id")
        .agg(
            F.sum(F.col("v_micro") * F.col("dur")).cast("long").alias("vt_sum"),
            F.sum("dur").cast("long").alias("t_sum"),
            F.expr("sum(v_micro * dur) div sum(dur)")
            .cast("long")
            .alias("twa_micro"),
        )
    )


@register(
    "q140_audio_frame_energy",
    """
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
    s AS (
      SELECT doc_id, g.i - 1 AS si,
             ('0x' || substr(hx, 4 * g.i - 3, 2))::BIGINT
               + 256 * ('0x' || substr(hx, 4 * g.i - 1, 2))::BIGINT AS raw
      FROM h CROSS JOIN generate_series(1, 8) g(i)
    ),
    v AS (SELECT doc_id, si,
                 CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS amp
          FROM s)
    SELECT doc_id, CAST(si // 2 AS INTEGER) AS frame_idx,
           CAST(2 AS INTEGER) AS n_samples,
           CAST(sum(amp * amp) AS BIGINT) AS sumsq,
           sqrt(sum(amp * amp) / 2.0) AS rms
    FROM v GROUP BY doc_id, si // 2
    """,
)
def q140_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio energy over the q115 WAV payloads: the decoder
    explodes each clip into fixed-size analysis frames with EXACT
    integer energy (sum of squared int16 samples) and its RMS — the
    framing primitive under VAD / loudness normalization /
    spectrogram prep, and the multimodal family's first
    row-EXPLODING decode (q76/q115 reduce; this one fans out).

    The Arrow mapInPandas stage emits (doc, frame) rows; energy stays
    int64 so the hash cannot drift, and rms is a single IEEE sqrt on
    the exact ratio — bit-identical across engines.  The oracle
    re-derives the same samples from the md5 bytes in SQL, proving
    the decoder's chunk walk, sample order, and sign handling frame by
    frame."""
    from .operators.multimodal import extract_audio_frames

    docs = load_table(spark, sf_dir, "documents")
    data_len = 16
    hdr = (
        b"RIFF" + (36 + data_len).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + data_len.to_bytes(4, "little")
    )
    payloads = docs.select(
        "doc_id",
        F.concat(F.lit(hdr), F.unhex(F.md5("text"))).alias("payload"),
    )
    return extract_audio_frames(payloads, frame_size=2).select(
        "doc_id", "frame_idx", "n_samples", "sumsq", "rms"
    )


@register(
    "q141_basket_similarity",
    """
    WITH cp0 AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    pop AS (SELECT p, count(*) AS np FROM cp0 GROUP BY 1),
    cp AS (SELECT cp0.c, cp0.p FROM cp0 JOIN pop ON cp0.p = pop.p
           WHERE pop.np <= 1000),
    sz AS (SELECT c, count(*) AS n FROM cp GROUP BY 1),
    inter AS (SELECT a.c AS ca, b.c AS cb, count(*) AS i
              FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
              GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT ca, cb, CAST(i AS BIGINT) AS n_common,
           CAST((i * 1000000) // (sa.n + sb.n - i) AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sz sa ON inter.ca = sa.c
    JOIN sz sb ON inter.cb = sb.c
    ORDER BY jaccard_ppm DESC, ca, cb
    LIMIT 50
    """,
)
def q141_basket_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most similar customer purchase baskets by exact Jaccard
    — collaborative-filtering candidate generation over the
    customer x part bipartite graph.

    Candidates come from the INVERTED index (pairs sharing a part),
    so the work is Σ|part-customers|² over parts, never |customers|²
    — the same bucket-bounded posture as the MinHash/SimHash dedup
    families, with the min-intersection HAVING pruning the pair tail
    before the size join.  Set sizes broadcast back; Jaccard is exact
    integer ppm; the top-50 cut runs as TakeOrdered with full
    tie-break (jppm, ca, cb), no global sort.

    The part-popularity cap (``max_item_popularity=1000``) is DECLARED
    semantics, mirrored in the oracle (r7 verdict item 3 — the
    cap-is-semantics pattern every LSH operator uses): a part bought
    by everyone makes its inverted-index term quadratic in the corpus,
    so such parts are dropped BEFORE pairing, exactly as
    ``dedup._cap_buckets`` caps LSH mega-buckets.  No part binds the
    cap at sf0.01/sf0.1 (~30 customers/part), but at 100x the contract
    already bounds the hot-part hazard; dropped-item accounting rides
    on ``popularity_overflow`` (asserted in
    ``tests/test_bucket_caps.py``)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cp = (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    from .operators.dedup import basket_similarity

    sim = basket_similarity(
        cp, entity_col="c", item_col="p", min_common=3,
        max_item_popularity=1000,
    )
    # capture the accounting BEFORE transforming: it is a plain
    # attribute on the immediate return value only (r8 advice)
    audit = sim.popularity_overflow
    j = sim.select(
        F.col("a").alias("ca"),
        F.col("b").alias("cb"),
        "n_common",
        "jaccard_ppm",
    )
    out = j.orderBy(
        F.desc("jaccard_ppm"), F.asc("ca"), F.asc("cb")
    ).limit(50)
    out.popularity_overflow = audit
    return out


@register(
    "q142_weekly_ohlc",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS day,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    daily AS (SELECT n.n_name, o.day, sum(o.cents) AS rev
              FROM o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              GROUP BY 1, 2)
    SELECT n_name, CAST(day // 7 AS BIGINT) AS week,
           CAST(min_by(rev, day) AS BIGINT) AS open_cents,
           CAST(max(rev) AS BIGINT) AS high_cents,
           CAST(min(rev) AS BIGINT) AS low_cents,
           CAST(max_by(rev, day) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_days
    FROM daily GROUP BY 1, 2
    """,
)
def q142_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC (open/high/low/close) downsample of the daily
    revenue series per nation — the financial-style resample that
    turns a fine-grained series into candles without losing the
    intra-period extremes.

    Shape: facts partial-aggregate to (nation, day) cents first; the
    weekly candle is then ONE more partial-aggregated groupBy where
    open/close are ``min_by``/``max_by`` on the day key — order
    statistics as aggregates, no window, no sort, two exchanges total,
    both over dims x time-bounded rows."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    daily = (
        orders.select(
            "o_custkey",
            F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
            .cast("long")
            .alias("day"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "day")
        .agg(F.sum("cents").alias("rev"))
    )
    return daily.groupBy(
        "n_name", F.expr("day div 7").cast("long").alias("week")
    ).agg(
        F.min_by("rev", "day").cast("long").alias("open_cents"),
        F.max("rev").cast("long").alias("high_cents"),
        F.min("rev").cast("long").alias("low_cents"),
        F.max_by("rev", "day").cast("long").alias("close_cents"),
        F.count("*").cast("long").alias("n_days"),
    )


def _q143_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    t50 = fraction_threshold_hex(0.5)
    return f"""
    WITH assigned AS (
      SELECT user_id, event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro,
             CASE WHEN substr(md5('ab1' || '|' || CAST(user_id AS VARCHAR)),
                              1, 28) < '{t50}'
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM events)
    SELECT arm,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v_micro) AS BIGINT) AS value_micro,
           CAST(sum(v_micro) // count(*) AS BIGINT) AS mean_micro,
           CAST((1000 * sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS purchase_permille
    FROM assigned GROUP BY arm
    """


@register("q143_ab_experiment", _q143_sql())
def q143_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assigned to arms by the SAME
    deterministic md5 draw as the sampling family (q49/q58 — retry-
    and repartition-stable, no ``rand()``), then per-arm user counts,
    event volume, exact value sums, and integer-division means /
    conversion rates.  The experimentation counterpart of the split
    assigner: assignment is a pure scan-side expression, the readout
    is ONE partial-aggregated pass, and every emitted number is exact
    integer arithmetic — the statistical test consumes these sufficient
    statistics downstream."""
    from .operators.sampling import fraction_threshold_hex

    ev = load_table(spark, sf_dir, "events")
    t50 = fraction_threshold_hex(0.5)
    draw = F.substring(
        F.md5(F.concat(F.lit("ab1"), F.lit("|"), F.col("user_id").cast("string"))),
        1,
        28,
    )
    assigned = ev.select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("v_micro"),
        F.when(draw < t50, "control").otherwise("treatment").alias("arm"),
    )
    return assigned.groupBy("arm").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_events"),
        F.sum("v_micro").cast("long").alias("value_micro"),
        F.expr("sum(v_micro) div count(*)").cast("long").alias("mean_micro"),
        F.expr(
            "(1000 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END))"
            " div count(*)"
        )
        .cast("long")
        .alias("purchase_permille"),
    )


@register(
    "q144_clustering_coefficient",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT a.l_partkey AS x, b.l_partkey AS y
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (SELECT v, count(*) AS d FROM (
              SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
            GROUP BY 1),
    tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM e e1 JOIN e e2 ON e1.y = e2.x
                      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
    tv AS (SELECT v, count(*) AS t FROM (
             SELECT a AS v FROM tri UNION ALL
             SELECT b AS v FROM tri UNION ALL
             SELECT c AS v FROM tri)
           GROUP BY 1)
    SELECT d.v, CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(tv.t, 0) AS BIGINT) AS n_triangles,
           CAST((2000000 * COALESCE(tv.t, 0)) // (d.d * (d.d - 1))
                AS BIGINT) AS coeff_ppm
    FROM deg d LEFT JOIN tv ON d.v = tv.v
    WHERE d.d >= 2
    """,
)
def q144_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex of the co-purchase
    graph — how tightly each part's neighborhood interconnects
    (2*triangles / deg*(deg-1)), the cohesion feature under community
    detection and recommendation diversity.

    Builds on q128's degree-oriented triangle enumeration (each
    triangle found exactly once, O(sqrt(m)) wedge fan-out), then
    explodes each triangle to its three corners for the per-vertex
    count — an exchange over 3x|triangles| rows, tiny next to the
    enumeration itself.  Coefficients are exact integer ppm."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("x"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("y"))
    edges = (
        a.join(b, "k")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("x", "y")
    )
    deg = (
        edges.select(F.col("x").alias("v"))
        .unionAll(edges.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("dy"))
    ranked = edges.join(dx, "x").join(dy, "y")
    lower_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(lower_first, F.col("y")).otherwise(F.col("x")).alias("w"),
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("v1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("v2"))
    wedges = o1.join(o2, "u").filter(F.col("v1") < F.col("v2"))
    closing = oriented.select(
        F.least("u", "w").alias("cx"), F.greatest("u", "w").alias("cy")
    )
    tri = wedges.join(
        closing,
        (F.least("v1", "v2") == F.col("cx"))
        & (F.greatest("v1", "v2") == F.col("cy")),
    )
    corners = (
        tri.select(F.col("u").alias("v"))
        .unionAll(tri.select(F.col("v1").alias("v")))
        .unionAll(tri.select(F.col("v2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(corners, "v", "left")
        .select(
            "v",
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.expr("(2000000 * coalesce(t, 0)) div (d * (d - 1))")
            .cast("long")
            .alias("coeff_ppm"),
        )
    )


@register(
    "q145_embedding_profile",
    """
    WITH v AS (SELECT e.label, g.i AS dim,
                      CAST(floor(CAST(e.embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
                           AS BIGINT) AS micro
               FROM embeddings e CROSS JOIN generate_series(1, 64) g(i))
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(micro) AS BIGINT) AS sum_micro,
           CAST(sum(micro) // count(*) AS BIGINT) AS mean_micro,
           CAST(min(micro) AS BIGINT) AS min_micro,
           CAST(max(micro) AS BIGINT) AS max_micro
    FROM v GROUP BY label, dim
    """,
)
def q145_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) embedding distribution audit — the
    vector-column health check (dead dims, scale drift, label
    separation) run before any ANN index build or projection (q110)
    trusts the data.

    ``posexplode`` fans each vector to (dim, value) rows — 64x growth,
    one partial-aggregated exchange on (label, dim): at 10^9 vectors
    the aggregate state is still |labels| x 64 rows.  Values scale to
    exact integer micro-units at the scan (a float32 can never hit an
    exact .5 micro boundary, so both engines round identically) and
    every statistic is integer arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "label",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.floor(F.col("val").cast("double") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("micro"),
    )
    return v.groupBy("label", "dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("micro").cast("long").alias("sum_micro"),
        F.expr("sum(micro) div count(*)").cast("long").alias("mean_micro"),
        F.min("micro").cast("long").alias("min_micro"),
        F.max("micro").cast("long").alias("max_micro"),
    )


@register(
    "q146_conversion_latency",
    """
    WITH lagd AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events),
    sess AS (SELECT user_id, event_type, us, event_id,
                    CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
                                  THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY us, event_id)
                         AS BIGINT) AS session_id
             FROM lagd),
    ranked AS (SELECT user_id, session_id, event_type,
                      row_number() OVER (PARTITION BY user_id, session_id
                                         ORDER BY us, event_id) AS rn
               FROM sess),
    lat AS (SELECT s.user_id, s.session_id, r.event_type AS entry,
                   (min(CASE WHEN s.event_type = 'purchase' THEN s.us END)
                    - min(s.us)) // 1000000 AS lat_s
            FROM sess s JOIN ranked r
              ON s.user_id = r.user_id AND s.session_id = r.session_id
             AND r.rn = 1
            GROUP BY 1, 2, 3
            HAVING min(CASE WHEN s.event_type = 'purchase' THEN s.us END)
                   IS NOT NULL),
    h AS (SELECT entry, lat_s, count(*) AS c FROM lat GROUP BY 1, 2),
    cum AS (SELECT entry, lat_s,
                   sum(c) OVER (PARTITION BY entry ORDER BY lat_s) AS cum,
                   sum(c) OVER (PARTITION BY entry) AS n
            FROM h)
    SELECT entry,
           CAST(min(CASE WHEN cum * 2 >= n THEN lat_s END) AS BIGINT)
             AS p50_s,
           CAST(min(CASE WHEN cum * 10 >= 9 * n THEN lat_s END) AS BIGINT)
             AS p90_s,
           CAST(min(CASE WHEN cum * 100 >= 99 * n THEN lat_s END) AS BIGINT)
             AS p99_s,
           CAST(max(n) AS BIGINT) AS n_converting_sessions
    FROM cum GROUP BY entry
    """,
)
def q146_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert profile: within each session that reaches a
    purchase, seconds from session start to the FIRST purchase, then
    exact p50/p90/p99 PER ENTRY CHANNEL (the session's first event
    type) — the latency SLO readout for any funnel, split by how the
    session began.

    Session start and first-purchase time ride the q132 session
    exchange as conditional mins; the percentiles come from the
    value-histogram crossing (q133's machinery on one global group):
    state bounded by |distinct latencies|, crossings found with
    integer rank inequalities (cum*2 >= n), no sort, no buffering."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = base.withColumn(
        "session_id",
        F.sum(
            F.when(
                F.lag("us").over(w).isNull()
                | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
                1,
            ).otherwise(0)
        ).over(w).cast("long"),
    )
    lat = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min_by("event_type", F.struct("us", "event_id")).alias("entry"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("us")))
            .alias("first_purchase"),
            F.min("us").alias("start_us"),
        )
        .filter(F.col("first_purchase").isNotNull())
        .select(
            "entry",
            F.expr("(first_purchase - start_us) div 1000000").alias("lat_s"),
        )
    )
    h = lat.groupBy("entry", "lat_s").agg(F.count("*").alias("c"))
    cum = h.select(
        "entry",
        "lat_s",
        F.sum("c")
        .over(
            Window.partitionBy("entry")
            .orderBy("lat_s")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
        F.sum("c").over(Window.partitionBy("entry")).alias("n"),
    )
    return cum.groupBy("entry").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("lat_s")))
        .cast("long")
        .alias("p50_s"),
        F.min(F.when(F.col("cum") * 10 >= 9 * F.col("n"), F.col("lat_s")))
        .cast("long")
        .alias("p90_s"),
        F.min(F.when(F.col("cum") * 100 >= 99 * F.col("n"), F.col("lat_s")))
        .cast("long")
        .alias("p99_s"),
        F.max("n").cast("long").alias("n_converting_sessions"),
    )


@register(
    "q147_dedup_impact_report",
    r"""
    WITH cl AS (SELECT md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                               '\s+', ' ', 'g'))) AS fp,
                       count(*) AS sz
                FROM documents GROUP BY 1),
    tot AS (SELECT sum(sz) AS n_docs FROM cl)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable,
           CAST((1000000 * sum(sz)) // max(t.n_docs) AS BIGINT)
             AS corpus_share_ppm
    FROM cl CROSS JOIN tot t
    GROUP BY sz
    """,
)
def q147_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: the cluster-SIZE distribution of
    duplicates under the 100-char normalized-prefix key (q118's
    near-dup blocking key — this corpus has no FULL-text dups, so the
    prefix key is the stratum that actually exists; swap the
    fingerprint column for q22's to report exact-dup strata) — how
    many singletons, pairs, k-plicates; how many docs each stratum
    holds and how many dedup would remove.  The one-page summary a
    pipeline publishes before committing a dedup pass.

    Two partial-aggregated exchanges (doc->fingerprint counts, then
    size->strata), a 1-row broadcast total; shuffles carry 32-byte
    hashes and then integers.  All shares in exact ppm."""
    from .functions.textfn import normalize_ws

    docs = load_table(spark, sf_dir, "documents")
    cl = docs.groupBy(
        F.md5(normalize_ws(F.substring(F.col("text"), 1, 100))).alias("fp")
    ).agg(F.count("*").alias("sz"))
    tot = cl.agg(F.sum("sz").alias("n_docs_total"))
    return (
        cl.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"), F.sum("sz").alias("n_docs"),
             F.sum(F.col("sz") - 1).alias("n_removable"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long"),
            F.col("n_docs").cast("long"),
            F.col("n_removable").cast("long"),
            F.expr("(1000000 * n_docs) div n_docs_total")
            .cast("long")
            .alias("corpus_share_ppm"),
        )
    )


@register(
    "q148_tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, source, unnest({_SQL_TOKS}) AS term
                  FROM documents),
    n_docs AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
    df AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY 1),
    tf AS (SELECT source, term, count(*) AS tfreq FROM toks GROUP BY 1, 2),
    scored AS (SELECT tf.source, tf.term, tf.tfreq, df.dfreq,
                      ROUND(tf.tfreq * ln(CAST(n.nd AS DOUBLE) / df.dfreq),
                            6) AS tfidf
               FROM tf JOIN df ON tf.term = df.term CROSS JOIN n_docs n),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY source
                          ORDER BY tfidf DESC, term) AS rk
               FROM scored)
    SELECT source, term, CAST(tfreq AS BIGINT) AS tfreq,
           CAST(dfreq AS BIGINT) AS dfreq, tfidf, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def q148_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 characteristic terms per source by TF-IDF — the corpus
    fingerprint that tells sources apart (what does THIS crawl talk
    about that the others don't?), beside BM25's per-query form (q59).

    One token explode feeds document frequencies (distinct-doc counts)
    and per-source term frequencies; idf joins on the vocab-sized term
    table; the per-source top-10 is a window over |sources| x |vocab|
    rows — every exchange is vocab- or dims-bounded, never
    corpus-bounded, and the rank tie-breaks on the term so the float
    score never decides alone."""
    from .functions.textfn import tokenize
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(tokenize(F.col("text"))).alias("term")
    )
    nd = toks.agg(F.count_distinct("doc_id").alias("nd"))
    dfreq = toks.groupBy("term").agg(
        F.count_distinct("doc_id").alias("dfreq")
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tfreq"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "source",
            "term",
            "tfreq",
            "dfreq",
            F.round(
                F.col("tfreq")
                * F.log(F.col("nd").cast("double") / F.col("dfreq")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("source", "term",
                F.col("tfreq").cast("long"), F.col("dfreq").cast("long"),
                "tfidf", "rk")
    )


def _q149_sql() -> str:
    # Composes q147's exact-dup clusters with q131's frozen-tokenizer
    # token counts: the canonical doc (min doc_id) represents each
    # cluster, so effective tokens = tokens of canonicals only.
    enc = ORACLE["q131_bpe_encode"]
    return rf"""
    WITH enc AS ({enc}),
    fp AS (SELECT doc_id, source,
                  md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                          '\s+', ' ', 'g'))) AS fp
           FROM documents),
    canon AS (SELECT fp, min(doc_id) AS keep FROM fp GROUP BY 1)
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(e.n_tokens) AS BIGINT) AS raw_tokens,
           CAST(count(CASE WHEN c.keep = f.doc_id THEN 1 END) AS BIGINT)
             AS n_unique_docs,
           CAST(sum(CASE WHEN c.keep = f.doc_id THEN e.n_tokens
                         ELSE 0 END) AS BIGINT) AS effective_tokens,
           CAST((1000000 * sum(CASE WHEN c.keep = f.doc_id THEN e.n_tokens
                                    ELSE 0 END)) // sum(e.n_tokens)
                AS BIGINT) AS retention_ppm
    FROM fp f
    JOIN canon c ON f.fp = c.fp
    JOIN enc e ON e.doc_id = f.doc_id
    GROUP BY f.source
    """


@register("q149_effective_tokens", _q149_sql())
def q149_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dataset size: per source, raw token count versus the
    tokens that SURVIVE dedup under the near-dup prefix key (cluster
    canonicals only) — the
    number that actually prices a training run, since duplicated
    tokens train nothing new.  Composes q147's fingerprint clusters
    with q131's frozen-tokenizer counts; the oracle composes the same
    two certified formulations.

    Shape: fingerprint groupBy elects canonicals (min doc_id), token
    counts ride the vocab-factored broadcast join, one final rollup
    per source — three exchanges, all hash- or vocab-bounded.
    Retention in exact ppm."""
    from .functions.textfn import normalize_ws, tokenize
    from .operators.bpe import bpe_encode_words

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    enc = bpe_encode_words(wc.select("word").distinct(), _BPE_MERGES).select(
        "word", "n_tokens"
    )
    doc_tokens = (
        wc.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("n_tokens")).alias("n_tokens"))
    )
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(normalize_ws(F.substring(F.col("text"), 1, 100))).alias("fp"),
    )
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("keep"))
    kept = F.when(F.col("keep") == F.col("doc_id"), F.col("n_tokens")).otherwise(
        F.lit(0)
    )
    return (
        fp.join(canon, "fp")
        .join(doc_tokens, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("raw_tokens"),
            F.count(F.when(F.col("keep") == F.col("doc_id"), 1))
            .cast("long")
            .alias("n_unique_docs"),
            F.sum(kept).cast("long").alias("effective_tokens"),
            F.expr(
                "(1000000 * sum(CASE WHEN keep = doc_id THEN n_tokens ELSE 0"
                " END)) div sum(n_tokens)"
            )
            .cast("long")
            .alias("retention_ppm"),
        )
    )


@register(
    "q150_source_overlap_matrix",
    r"""
    WITH fp AS (SELECT DISTINCT
                  md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                          '\s+', ' ', 'g'))) AS fp,
                  source
                FROM documents),
    pairs AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
              FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
              GROUP BY 1, 2),
    sz AS (SELECT source, count(*) AS n FROM fp GROUP BY 1)
    SELECT p.src_a, p.src_b, CAST(p.shared AS BIGINT) AS shared_fps,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST((1000000 * p.shared) // least(sa.n, sb.n) AS BIGINT)
             AS overlap_ppm
    FROM pairs p JOIN sz sa ON p.src_a = sa.source
                 JOIN sz sb ON p.src_b = sb.source
    """,
)
def q150_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: which pairs of ingest
    sources share near-dup content (q118's prefix fingerprint), with
    overlap normalized by the smaller source — the report that decides
    which crawls are redundant and whether an eval source leaked into
    training feeds (q51's decontamination, aggregated to source
    granularity).

    The pair join runs on the FINGERPRINT key — work is
    Σ|fp-cluster|² like every bucket family here, never
    |sources|² x docs; sizes broadcast back; shares in exact ppm."""
    from .functions.textfn import normalize_ws

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        F.md5(normalize_ws(F.substring(F.col("text"), 1, 100))).alias("fp"),
        "source",
    ).distinct()
    a = fp.select("fp", F.col("source").alias("src_a"))
    b = fp.select("fp", F.col("source").alias("src_b"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    sz = fp.groupBy("source").agg(F.count("*").alias("n"))
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("shared").cast("long").alias("shared_fps"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            F.expr("(1000000 * shared) div least(n_a, n_b)")
            .cast("long")
            .alias("overlap_ppm"),
        )
    )


@register(
    "q151_activity_feed",
    """
    WITH ev AS (SELECT user_id AS entity_id,
                       CAST(epoch_us(ts) AS BIGINT) AS us,
                       'event:' || event_type AS kind,
                       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS amount_micro
                FROM events),
    od AS (SELECT o_custkey AS entity_id,
                  CAST(epoch_us(o_orderdate) AS BIGINT) AS us,
                  'order:' || o_orderstatus AS kind,
                  CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)
                    AS amount_micro
           FROM orders)
    SELECT entity_id, us, kind, amount_micro,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM ev UNION ALL SELECT * FROM od)
    GROUP BY 1, 2, 3, 4
    """,
)
def q151_activity_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified activity feed: two differently-shaped fact tables
    (events, orders) aligned onto ONE schema (entity, time, kind,
    amount) via ``unionByName`` — the ingestion-normalization step
    every warehouse runs before entity-timeline features, with a
    grouped rollup absorbing any physical duplicates.

    Schema alignment happens by NAME, not position (the classic silent
    killer of positional UNION when a source adds a column); amounts
    normalize to integer micro-units at the scan.  Union is a
    zero-shuffle concatenation; the only exchange is the rollup's."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("entity_id"),
        F.unix_micros(F.col("ts")).alias("us"),
        F.concat(F.lit("event:"), F.col("event_type")).alias("kind"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("amount_micro"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("amount_micro"),
        F.col("o_custkey").alias("entity_id"),
        F.concat(F.lit("order:"), F.col("o_orderstatus")).alias("kind"),
        F.unix_micros(F.col("o_orderdate")).alias("us"),
    )
    feed = ev.unionByName(od)  # name-aligned despite different column order
    return feed.groupBy("entity_id", "us", "kind", "amount_micro").agg(
        F.count("*").cast("long").alias("n")
    )


@register(
    "q152_video_frame_sample",
    """
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
    px AS (SELECT doc_id, g.i - 1 AS bi,
                  ('0x' || substr(hx, 2 * g.i - 1, 2))::BIGINT AS v
           FROM h CROSS JOIN generate_series(1, 16) g(i)),
    fr AS (SELECT doc_id, CAST(bi // 4 AS INTEGER) AS frame_idx,
                  count(*) AS n_px, sum(v) AS sum_px,
                  min(v) AS min_px, max(v) AS max_px
           FROM px GROUP BY 1, 2)
    SELECT doc_id, frame_idx, CAST(n_px AS INTEGER) AS n_px,
           CAST(sum_px AS BIGINT) AS sum_px,
           CAST(min_px AS INTEGER) AS min_px,
           CAST(max_px AS INTEGER) AS max_px
    FROM fr WHERE frame_idx % 2 = 0
    """,
)
def q152_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, driver-verified: each document gets a
    4-frame concatenated-PGM clip (2x2 grayscale frames whose pixels
    are the 16 md5 bytes), the container WALKER
    (``multimodal.iter_ppm_frames``) parses frame boundaries from the
    actual PPM headers, keeps every 2nd frame, and emits exact integer
    pixel stats — completing the multimodal set (q76 image, q115/q140
    audio, now video) with the same Arrow mapInPandas shape and
    quarantine posture.  The oracle recomputes each sampled frame's
    stats from the md5 bytes in SQL, so the hash proves the walker's
    boundary parsing and sampling stride, not a fake.  Compressed
    video stays behind the env-gated ffmpeg boundary like JPEG."""
    from .operators.multimodal import sample_video_frames

    docs = load_table(spark, sf_dir, "documents")
    # 4 concatenated P5 frames: header + 4 raster bytes each
    hdr = F.lit(b"P5\n2 2\n255\n")
    md5b = F.unhex(F.md5("text"))
    payload = F.concat(
        *[
            F.concat(hdr, F.substring(md5b, 4 * i + 1, 4))
            for i in range(4)
        ]
    )
    clips = docs.select("doc_id", payload.alias("payload"))
    return sample_video_frames(clips, stride=2).select(
        "doc_id", "frame_idx", "n_px", "sum_px", "min_px", "max_px"
    )


@register(
    "q153_interpolated_series",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS day,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    daily AS (SELECT n.n_name, o.day, sum(o.cents) AS rev
              FROM o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              GROUP BY 1, 2),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
    spine AS (SELECT n_name, unnest(generate_series(b.lo, b.hi)) AS day
              FROM nation, b),
    joined AS (SELECT s.n_name, s.day, d.rev FROM spine s
               LEFT JOIN daily d ON s.n_name = d.n_name AND s.day = d.day),
    walls AS (SELECT n_name, day, rev,
                     max(CASE WHEN rev IS NOT NULL THEN day END)
                       OVER (PARTITION BY n_name ORDER BY day) AS pd,
                     min(CASE WHEN rev IS NOT NULL THEN day END)
                       OVER (PARTITION BY n_name ORDER BY day
                             ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING) AS nd
              FROM joined),
    v AS (SELECT w.n_name, w.day, w.rev, w.pd, w.nd,
                 pv.rev AS prev_rev, nv.rev AS next_rev
          FROM walls w
          LEFT JOIN daily pv ON w.n_name = pv.n_name AND w.pd = pv.day
          LEFT JOIN daily nv ON w.n_name = nv.n_name AND w.nd = nv.day)
    SELECT n_name, CAST(day AS BIGINT) AS day,
           CAST(CASE
             WHEN rev IS NOT NULL THEN rev * 1000
             WHEN prev_rev IS NULL THEN next_rev * 1000
             WHEN next_rev IS NULL THEN prev_rev * 1000
             ELSE (prev_rev * (nd - day) + next_rev * (day - pd)) * 1000
                  // (nd - pd)
           END AS BIGINT) AS rev_milli_cents,
           CASE WHEN rev IS NULL THEN 1 ELSE 0 END AS interpolated
    FROM v
    """,
)
def q153_interpolated_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION: missing days in each nation's
    revenue series take the time-weighted blend of the nearest
    observed neighbors (q122 zero-fills; sensors/finance interpolate).

    The neighbor search is two IGNORE-NULLS window walls per key — the
    last observed day looking back and the first looking forward
    (running max/min of the conditional day, no self-join over gaps of
    unbounded length) — then the lerp is exact integer arithmetic:
    (prev*(nd-d) + next*(d-pd)) div (nd-pd) in milli-cents, so the
    interpolation is engine-exact.  Edges extend flat.  Everything
    runs on the dims x days frame, never raw facts."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = orders.select(
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("long")
        .alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    daily = (
        o.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "day")
        .agg(F.sum("cents").alias("rev"))
    )
    bounds = o.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = (
        nation.select("n_name")
        .crossJoin(F.broadcast(bounds))
        .select("n_name", F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    joined = spine.join(F.broadcast(daily), ["n_name", "day"], "left")
    back = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    obs_rev = F.when(F.col("rev").isNotNull(), F.col("rev"))
    walls = joined.select(
        "n_name",
        "day",
        "rev",
        F.max(obs_day).over(back).alias("pd"),
        F.min(obs_day).over(fwd).alias("nd"),
        F.last(obs_rev, ignorenulls=True).over(back).alias("prev_rev"),
        F.first(obs_rev, ignorenulls=True).over(fwd).alias("next_rev"),
    )
    lerp = F.expr(
        "(prev_rev * (nd - day) + next_rev * (day - pd)) * 1000"
        " div (nd - pd)"
    )
    val = (
        F.when(F.col("rev").isNotNull(), F.col("rev") * 1000)
        .when(F.col("prev_rev").isNull(), F.col("next_rev") * 1000)
        .when(F.col("next_rev").isNull(), F.col("prev_rev") * 1000)
        .otherwise(lerp)
    )
    return walls.select(
        "n_name",
        F.col("day").cast("long").alias("day"),
        val.cast("long").alias("rev_milli_cents"),
        F.when(F.col("rev").isNull(), 1).otherwise(0).alias("interpolated"),
    )


@register(
    "q154_bitmap_distinct",
    """
    SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1
    """,
)
def q154_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT daily distinct users via BITMAP aggregation — the
    high-throughput alternative to COUNT DISTINCT when ids are dense
    integers: each user sets bit (id % 64) of word (id div 64), words
    partial-aggregate with bit_or (map-side combinable, unlike
    distinct-based rewrites), and popcounts sum per day.

    COUNT DISTINCT shuffles every (day, user) pair to its reducer; the
    bitmap form shuffles at most |id-space|/64 words per day per task
    and NEVER rescans — the roaring-bitmap trick warehouses use,
    expressed in two partial-aggregated exchanges of pure codegen
    (xxhash-free: identity on dense ids).  The oracle runs the naive
    COUNT DISTINCT; matching proves the bit algebra."""
    ev = load_table(spark, sf_dir, "events")
    words = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / F.lit(86400))
            .cast("long")
            .alias("day"),
            F.expr("user_id div 64").alias("w"),
            F.expr("shiftleft(1L, cast(user_id % 64 AS INT))").alias("bit"),
        )
        .groupBy("day", "w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    return words.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("dau")
    )


@register(
    "q155_mixture_plan",
    """
    WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    tot AS (SELECT sum(n) AS total, count(*) AS k FROM s)
    SELECT s.source, CAST(s.n AS BIGINT) AS n_docs,
           CAST((1000000 * s.n) // t.total AS BIGINT) AS current_ppm,
           CAST(1000000 // t.k AS BIGINT) AS target_ppm,
           CAST(least(1000000,
                      (1000000 * t.total) // (t.k * s.n)) AS BIGINT)
             AS sample_rate_ppm,
           CAST((s.n * least(1000000,
                             (1000000 * t.total) // (t.k * s.n))) // 1000000
                AS BIGINT) AS expected_docs
    FROM s CROSS JOIN tot t
    """,
)
def q155_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture PLANNING: given a uniform target share per source,
    derive each source's Bernoulli sampling rate (capped at 1.0 — no
    silent upsampling; q64 is the explicit epoch-upsampling tool) and
    the expected post-sample size — the step that PRODUCES the rates
    q63's mixture sampler consumes.

    One groupBy over source (25-ish keys), a 1-row broadcast total,
    pure integer arithmetic in ppm.  At 100 TB this is the same
    fixed-size report; the plan feeds the md5-deterministic samplers
    so the whole mixture pipeline is replayable."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count("*").alias("n"))
    tot = s.agg(F.sum("n").alias("total"), F.count("*").alias("k"))
    rate = F.expr("least(1000000, (1000000 * total) div (k * n))")
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.expr("(1000000 * n) div total").cast("long").alias("current_ppm"),
        F.expr("1000000 div k").cast("long").alias("target_ppm"),
        rate.cast("long").alias("sample_rate_ppm"),
        ((F.col("n") * rate) / 1_000_000)
        .cast("long")
        .alias("expected_docs"),
    )


@register(
    "q156_naive_bayes_model",
    f"""
    WITH toks AS (SELECT lang, unnest({_SQL_TOKS}) AS term
                  FROM documents),
    cw AS (SELECT lang, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
    ctot AS (SELECT lang, sum(cnt) AS ct FROM cw GROUP BY 1),
    vocab AS (SELECT count(DISTINCT term) AS v FROM toks)
    SELECT cw.lang, cw.term, CAST(cw.cnt AS BIGINT) AS cnt,
           ROUND(ln((cw.cnt + 1.0) / (ct.ct + v.v)), 6) AS loglik
    FROM cw JOIN ctot ct ON cw.lang = ct.lang CROSS JOIN vocab v
    """,
)
def q156_naive_bayes_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes TRAINING as one aggregation pass: the
    (class, term) count table with Laplace-smoothed log-likelihoods
    ln((c+1)/(classTotal+|V|)) — a real text classifier (here over the
    ``lang`` label) whose model IS a DataFrame, ready for the
    broadcast-join scoring pattern q68/q74 use for the unigram LM.

    Shape: one token explode feeds (class, term) counts; class totals
    and the 1-row vocab size broadcast back — every exchange is
    vocab x classes, never corpus; the smoothed ratio is a single ln
    on an exact rational (the q68-family float posture)."""
    from .functions.textfn import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokenize(F.col("text"))).alias("term")
    )
    cw = toks.groupBy("lang", "term").agg(F.count("*").alias("cnt"))
    ctot = cw.groupBy("lang").agg(F.sum("cnt").alias("ct"))
    vocab = toks.agg(F.count_distinct("term").alias("v"))
    return (
        cw.join(F.broadcast(ctot), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "term",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(
                F.log(
                    (F.col("cnt") + F.lit(1.0))
                    / (F.col("ct") + F.col("v"))
                ),
                6,
            ).alias("loglik"),
        )
    )


@register(
    "q157_weekly_top_event",
    """
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(ts)/86400) AS BIGINT) // 7 AS week,
                      event_type
               FROM events),
    c AS (SELECT user_id, week, event_type, count(*) AS n
          FROM e GROUP BY 1, 2, 3),
    r AS (SELECT user_id, week, event_type, n,
                 row_number() OVER (PARTITION BY user_id, week
                                    ORDER BY n DESC, event_type DESC) AS rn,
                 sum(n) OVER (PARTITION BY user_id, week) AS total
          FROM c)
    SELECT user_id, week, event_type AS top_event,
           CAST(n AS BIGINT) AS top_n, CAST(total AS BIGINT) AS total
    FROM r WHERE rn = 1
    """,
)
def q157_weekly_top_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user weekly MODE: each user's most frequent event type per
    week — the categorical summary feature (dominant behavior) beside
    the numeric rollups.  Mode has no direct aggregate; the scalable
    form is count-then-argmax: one (user, week, type) partial
    aggregate, then ``max_by`` on the (count, type) struct so equal-count weeks
    tie-break on the type ordering and cannot flip between engines — never a per-group sort or collect."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(
            "user_id",
            F.expr("floor(unix_timestamp(ts) / 86400) div 7")
            .cast("long")
            .alias("week"),
            "event_type",
        )
        .groupBy("user_id", "week", "event_type")
        .agg(F.count("*").alias("n"))
    )
    tie = F.struct(F.col("n"), F.col("event_type"))
    return c.groupBy("user_id", "week").agg(
        F.max_by("event_type", tie).alias("top_event"),
        F.max_by("n", tie).cast("long").alias("top_n"),
        F.sum("n").cast("long").alias("total"),
    )


@register(
    "q158_naive_bayes_confusion",
    f"""
    WITH toks AS (SELECT doc_id, lang, unnest({_SQL_TOKS}) AS term
                  FROM documents),
    cw AS (SELECT lang, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
    ctot AS (SELECT lang, sum(cnt) AS ct FROM cw GROUP BY 1),
    vocab AS (SELECT count(DISTINCT term) AS v FROM toks),
    model AS (SELECT cw.lang AS cls, cw.term,
                     CAST(floor(ROUND(ln((cw.cnt + 1.0) / (ct.ct + v.v)), 6)
                                * 1000000 + 0.5) AS BIGINT) AS ll_micro
              FROM cw JOIN ctot ct ON cw.lang = ct.lang CROSS JOIN vocab v),
    ll0 AS (SELECT ct.lang AS cls,
                   CAST(floor(ROUND(ln(1.0 / (ct.ct + v.v)), 6) * 1000000 + 0.5)
                        AS BIGINT) AS ll0_micro
            FROM ctot ct CROSS JOIN vocab v),
    dt AS (SELECT doc_id, lang, term, count(*) AS tc FROM toks
           GROUP BY 1, 2, 3),
    dn AS (SELECT doc_id, sum(tc) AS n_tok FROM dt GROUP BY 1),
    hits AS (SELECT dt.doc_id, m.cls,
                    sum(dt.tc * (m.ll_micro - z.ll0_micro)) AS delta
             FROM dt JOIN model m ON dt.term = m.term
                     JOIN ll0 z ON m.cls = z.cls
             GROUP BY 1, 2),
    scores AS (SELECT dn.doc_id, z.cls,
                      dn.n_tok * z.ll0_micro + COALESCE(h.delta, 0) AS score
               FROM dn CROSS JOIN ll0 z
               LEFT JOIN hits h ON h.doc_id = dn.doc_id AND h.cls = z.cls),
    pred AS (SELECT s.doc_id, s.cls AS predicted
             FROM (SELECT doc_id, cls,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY score DESC, cls) AS rn
                   FROM scores) s WHERE s.rn = 1)
    SELECT d.lang AS actual, p.predicted,
           CAST(count(*) AS BIGINT) AS n
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY 1, 2
    """,
)
def q158_naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL classifier loop — q156's Naive Bayes model trained,
    then every document scored and the confusion matrix (actual x
    predicted language) emitted — train and inference as one Spark
    job, the pattern for any count-based model.

    Scoring never materializes the doc x class x term cube: a doc's
    score is n_tokens * ll0(class) (the all-OOV floor, broadcast per
    class) plus the DELTA of observed (term, class) pairs — so the
    join is (doc, term) x model on the term key, vocab-bounded like
    q68/q74.  Log-likelihoods freeze to integer MICRO-NATS after the
    shared 6dp rounding (identical doubles -> identical ints), sums
    and argmax (row_number tie-broken by class) are pure integer
    arithmetic — the float never accumulates, so engines cannot
    diverge."""
    from .functions.textfn import tokenize
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("term")
    )
    cw = toks.groupBy("lang", "term").agg(F.count("*").alias("cnt"))
    ctot = cw.groupBy("lang").agg(F.sum("cnt").alias("ct"))
    vocab = toks.agg(F.count_distinct("term").alias("v"))
    micro = lambda c: F.floor(F.round(c, 6) * 1_000_000 + F.lit(0.5)).cast("long")
    model = (
        cw.join(F.broadcast(ctot), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cls"),
            "term",
            micro(
                F.log((F.col("cnt") + F.lit(1.0)) / (F.col("ct") + F.col("v")))
            ).alias("ll_micro"),
        )
    )
    ll0 = (
        ctot.crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cls"),
            micro(F.log(F.lit(1.0) / (F.col("ct") + F.col("v")))).alias(
                "ll0_micro"
            ),
        )
    )
    dt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tc"))
    dn = dt.groupBy("doc_id").agg(F.sum("tc").alias("n_tok"))
    hits = (
        dt.join(F.broadcast(model), "term")
        .join(F.broadcast(ll0), "cls")
        .groupBy("doc_id", "cls")
        .agg(
            F.sum(
                F.col("tc") * (F.col("ll_micro") - F.col("ll0_micro"))
            ).alias("delta")
        )
    )
    scores = (
        dn.crossJoin(F.broadcast(ll0))
        .join(hits, ["doc_id", "cls"], "left")
        .select(
            "doc_id",
            "cls",
            (
                F.col("n_tok") * F.col("ll0_micro")
                + F.coalesce("delta", F.lit(0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cls").alias("predicted"))
    )
    return (
        docs.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "q159_native_session_window",
    """
    WITH lagd AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events),
    sess AS (SELECT user_id, us, v_micro,
                    CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
                                  THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY us, event_id)
                         AS BIGINT) AS session_id
             FROM lagd)
    SELECT user_id,
           min(us) AS session_start_us,
           max(us) + 1800000000 AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v_micro) AS BIGINT) AS value_micro
    FROM sess GROUP BY user_id, session_id
    """,
)
def q159_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Spark's NATIVE ``session_window``
    aggregate — the engine-managed form of q24's manual
    lag-and-running-sum (and the one that transfers verbatim to
    Structured Streaming with merging session state).  The window's
    end is last-event + gap by definition; the oracle derives the
    same sessions manually and reconstructs that end, so the hash
    match proves the built-in's gap semantics equal the classic
    formulation event for event.

    One exchange on user_id; the aggregate carries count and exact
    micro-unit value sums inside the session state."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("v_micro"),
    ).groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("v_micro").cast("long").alias("value_micro"),
    )
    return g.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        F.unix_micros(F.col("w.end")).alias("session_end_us"),
        "n_events",
        "value_micro",
    )


@register(
    "q160_nucleus_vocab",
    f"""
    WITH toks AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
    freq AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT sum(cnt) AS n FROM freq),
    cum AS (SELECT term, cnt,
                   sum(cnt) OVER (ORDER BY cnt DESC, term) AS running,
                   t.n
            FROM freq, tot t)
    SELECT term, CAST(cnt AS BIGINT) AS cnt,
           CAST(running AS BIGINT) AS running,
           CAST((1000000 * running) // n AS BIGINT) AS cum_ppm
    FROM cum
    WHERE (running - cnt) * 10 < n * 9
    """,
)
def q160_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) vocabulary cutoff: the smallest set of terms
    whose cumulative frequency covers 90% of all token mass — the
    top-p filtering rule applied corpus-side (tokenizer pruning,
    long-tail analysis).  A term is IN the nucleus iff the mass BEFORE
    it is under the threshold, expressed as exact integer
    cross-multiplication ((running-cnt)*10 < n*9), so the boundary
    term that crosses 90% is included on both engines by identical
    algebra.

    The cumulative window runs over the VOCAB table (bounded — ~1e6
    rows at any corpus size), single-partition by design like q119's
    histogram; the corpus itself is touched once for frequencies."""
    from .functions.textfn import tokenize
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    tot = freq.agg(F.sum("cnt").alias("n"))
    w = Window.orderBy(F.desc("cnt"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = freq.withColumn("running", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(tot)
    )
    return cum.filter(
        (F.col("running") - F.col("cnt")) * 10 < F.col("n") * 9
    ).select(
        "term",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("running").cast("long").alias("running"),
        F.expr("(1000000 * running) div n").cast("long").alias("cum_ppm"),
    )


@register(
    "q161_dynamic_partition_pruning",
    """
    WITH dim AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
                 WHERE CAST(floor(epoch(ts)/86400) AS BIGINT) % 7 = 3)
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           ROUND(sum(e.value), 2) AS sum_value
    FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.d
    GROUP BY e.event_type
    """,
)
def q161_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact side is q73's
    date-partitioned events layout, but the day filter arrives via a
    JOIN against a dimension computed at runtime (every 7th day) — no
    literal predicate exists at plan time, so static pruning cannot
    fire.  Spark's DPP injects the dim's date set as a runtime
    subquery into the fact's partition listing
    (``dynamicpruningexpression`` in the plan, pinned by
    ``tests/test_plans.py``), so the scan still reads ~1/7th of the
    partitions.  THE join-pattern that makes star-schema date-dim
    filters cheap at 100 TB; without DPP this shape silently scans
    everything.  Oracle joins the flat table — same rows, different
    bytes touched."""
    import os as _os
    import tempfile as _tempfile

    from .sources.catalog import build_time_partitioned

    ev = load_table(spark, sf_dir, "events")
    key = _dataset_key(sf_dir)
    path = _os.path.join(
        _tempfile.gettempdir(), f"rs_events_bydate_u{_os.getuid()}_{key}"
    )
    build_time_partitioned(
        ev, path, source_path=_os.path.join(sf_dir, "events.parquet")
    )
    fact = spark.read.parquet(path)
    dim = (
        ev.filter(
            F.expr("floor(unix_timestamp(ts) / 86400) % 7 = 3")
        )
        .select(F.to_date("ts").alias("d"))
        .distinct()
    )
    joined = fact.join(dim, fact.event_date == dim.d)
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "q162_stream_psi_drift",
    """
    WITH b AS (SELECT event_type,
                      CAST(least(9, floor(value / 10.0)) AS BIGINT) AS bin
               FROM events
               WHERE event_type IN ('click', 'purchase')),
    c AS (SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2),
    bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
    t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1),
    p AS (SELECT bins.bin,
                 COALESCE(c0.n, 0) / (SELECT tot FROM t
                                      WHERE event_type = 'click') + 1e-6
                   AS p0,
                 COALESCE(c1.n, 0) / (SELECT tot FROM t
                                      WHERE event_type = 'purchase') + 1e-6
                   AS p1
          FROM bins
          LEFT JOIN c c0 ON c0.bin = bins.bin AND c0.event_type = 'click'
          LEFT JOIN c c1 ON c1.bin = bins.bin AND c1.event_type = 'purchase')
    SELECT CAST(bin AS BIGINT) AS bin,
           ROUND(p0, 6) AS p_base, ROUND(p1, 6) AS p_new,
           ROUND((p1 - p0) * ln(p1 / p0), 6) AS psi_term
    FROM p
    """,
)
def q162_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q121's PSI drift monitor running ON THE STREAM: per-(type, bin)
    counts are maintained incrementally by
    :func:`streaming.runner.stream_binned_counts` — the q105 additive
    exactly-once recipe (atomic swap + batch-id ledger), state is
    types x 10 bins forever — and the PSI between the click and
    purchase value distributions reads off the maintained table
    without rescanning history.  The monitoring posture at 100 TB/day:
    the stream pays one tiny merge per batch; the drift readout is a
    10-row computation at any moment.  Oracle recomputes from the
    batch table; stream-end equality proves the incremental
    maintenance exact."""
    from .streaming.runner import stream_binned_counts

    counts = stream_binned_counts(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    bins = spark.range(10).select(F.col("id").cast("long").alias("bin"))
    c0 = counts.filter(F.col("event_type") == "click").select(
        "bin", F.col("n").alias("n0")
    )
    c1 = counts.filter(F.col("event_type") == "purchase").select(
        "bin", F.col("n").alias("n1")
    )
    t0 = counts.filter(F.col("event_type") == "click").agg(
        F.sum("n").alias("tot0")
    )
    t1 = counts.filter(F.col("event_type") == "purchase").agg(
        F.sum("n").alias("tot1")
    )
    p = (
        bins.join(F.broadcast(c0), "bin", "left")
        .join(F.broadcast(c1), "bin", "left")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .select(
            "bin",
            (
                F.coalesce("n0", F.lit(0)) / F.col("tot0").cast("double")
                + F.lit(1e-6)
            ).alias("p0"),
            (
                F.coalesce("n1", F.lit(0)) / F.col("tot1").cast("double")
                + F.lit(1e-6)
            ).alias("p1"),
        )
    )
    return p.select(
        F.col("bin").cast("long").alias("bin"),
        F.round("p0", 6).alias("p_base"),
        F.round("p1", 6).alias("p_new"),
        F.round(
            (F.col("p1") - F.col("p0")) * F.log(F.col("p1") / F.col("p0")), 6
        ).alias("psi_term"),
    )


@register(
    "q163_table_diff",
    """
    WITH latest AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t WHERE rn = 1),
    u AS (SELECT user_id * 20 + 1 AS key, ROUND(value, 2) AS new_bal,
                 'cdc#' || CAST(user_id AS VARCHAR) AS new_name
          FROM latest),
    new_snap AS (
      SELECT COALESCE(c.c_custkey, u.key) AS c_custkey,
             COALESCE(c.c_name, u.new_name) AS c_name,
             CASE WHEN u.key IS NOT NULL THEN u.new_bal
                  ELSE c.c_acctbal END AS c_acctbal
      FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.key),
    d AS (SELECT COALESCE(o.c_custkey, n.c_custkey) AS key,
                 CASE WHEN o.c_custkey IS NULL THEN 'added'
                      WHEN n.c_custkey IS NULL THEN 'removed'
                      WHEN o.c_name = n.c_name
                       AND floor(o.c_acctbal * 100 + 0.5) = floor(n.c_acctbal * 100 + 0.5)
                        THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM customer o FULL OUTER JOIN new_snap n
            ON o.c_custkey = n.c_custkey)
    SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(min(key) AS BIGINT) AS min_key,
           CAST(max(key) AS BIGINT) AS max_key
    FROM d GROUP BY status
    """,
)
def q163_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF: the old customer dim versus the CDC-upserted new
    snapshot (q67's merge), classified row-by-row into
    added/removed/changed/unchanged with per-status counts and key
    ranges — the regression gate every pipeline runs before publishing
    a rebuilt table (did this release change only what it should?).

    One full-outer join on the key; the change test compares exact
    integer cents so float formatting can't masquerade as a change.
    At 100 TB both sides bucket by the key (catalog.create_bucketed)
    and the diff join is exchange-free; row hashes (xxhash64 of the
    normalized row struct) replace per-column compares when schemas
    are wide — same plan, one comparison column."""
    from pyspark.sql import Window

    from .operators.cdc import apply_upsert

    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        events.select("user_id", "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    updates = latest.select(
        (F.col("user_id") * 20 + 1).alias("c_custkey"),
        F.round("value", 2).alias("new_bal"),
        F.concat(F.lit("cdc#"), F.col("user_id").cast("string")).alias(
            "new_name"
        ),
    )
    new_snap = apply_upsert(
        customer.select("c_custkey", "c_name", "c_acctbal"),
        updates,
        ["c_custkey"],
        {"c_acctbal": "new_bal"},
        insert_only_cols={"c_name": "new_name"},
        op_col=None,
    ).select("c_custkey", "c_name", "c_acctbal")
    old = customer.select(
        F.col("c_custkey").alias("o_key"),
        F.col("c_name").alias("o_name"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("o_cents"),
    )
    new = new_snap.select(
        F.col("c_custkey").alias("n_key"),
        F.col("c_name").alias("n_name"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("n_cents"),
    )
    d = old.join(new, old.o_key == new.n_key, "full_outer").select(
        F.coalesce("o_key", "n_key").alias("key"),
        F.when(F.col("o_key").isNull(), "added")
        .when(F.col("n_key").isNull(), "removed")
        .when(
            (F.col("o_name") == F.col("n_name"))
            & (F.col("o_cents") == F.col("n_cents")),
            "unchanged",
        )
        .otherwise("changed")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count("*").cast("long").alias("n"),
        F.min("key").cast("long").alias("min_key"),
        F.max("key").cast("long").alias("max_key"),
    )


def _q164_sql() -> str:
    from .operators.sampling import fraction_threshold_hex

    t = fraction_threshold_hex(0.1)  # each replica silently lost ~10%
    reps = " UNION ALL ".join(
        f"""SELECT c_custkey, c_name,
                   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
            FROM customer
            WHERE substr(md5('rep{i}' || '|' || CAST(c_custkey AS VARCHAR)),
                         1, 28) >= '{t}'"""
        for i in (1, 2, 3)
    )
    return f"""
    WITH votes AS ({reps})
    SELECT c_custkey, c_name, cents,
           CAST(count(*) AS BIGINT) AS n_replicas
    FROM votes GROUP BY 1, 2, 3 HAVING count(*) >= 2
    """


@register("q164_replica_majority", _q164_sql())
def q164_replica_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quorum-read reconciliation: three replicas of the customer dim
    (each deterministically missing ~10% of rows — the md5 draw
    family plays the failure injector) are majority-voted back into
    one table: a row survives iff >= 2 replicas hold it.  The
    reference's 3-way HyDFS replica merge (``RainStorm.java:770-825``
    re-replication + merge) re-expressed as ONE union + one
    partial-aggregated vote count — no pairwise reconciliation
    passes, no coordinator; 100 TB of replicas is still one shuffle
    on the row key.

    Voting groups on the FULL row content (key + columns in exact
    cents), so a corrupted value would split the vote and drop below
    quorum rather than silently win."""
    from .operators.sampling import fraction_threshold_hex

    customer = load_table(spark, sf_dir, "customer")
    t = fraction_threshold_hex(0.1)
    base = customer.select(
        "c_custkey",
        "c_name",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    reps = None
    for i in (1, 2, 3):
        draw = F.substring(
            F.md5(
                F.concat(
                    F.lit(f"rep{i}"), F.lit("|"),
                    F.col("c_custkey").cast("string"),
                )
            ),
            1,
            28,
        )
        r = base.filter(draw >= t)
        reps = r if reps is None else reps.unionAll(r)
    return reps.groupBy("c_custkey", "c_name", "cents").agg(
        F.count("*").cast("long").alias("n_replicas")
    ).filter(F.col("n_replicas") >= 2)


@register(
    "q165_cheapest_two_hop",
    """
    WITH e AS (SELECT cn.n_name AS src, sn.n_name AS dst,
                      min(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                        AS w
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier s ON l.l_suppkey = s.s_suppkey
               JOIN nation cn ON c.c_nationkey = cn.n_nationkey
               JOIN nation sn ON s.s_nationkey = sn.n_nationkey
               WHERE cn.n_name <> sn.n_name
               GROUP BY 1, 2),
    hop2 AS (SELECT a.src, b.dst, min(a.w + b.w) AS w2
             FROM e a JOIN e b ON a.dst = b.src AND a.src <> b.dst
             GROUP BY 1, 2)
    SELECT COALESCE(d.src, h.src) AS src, COALESCE(d.dst, h.dst) AS dst,
           CAST(d.w AS BIGINT) AS direct_cents,
           CAST(h.w2 AS BIGINT) AS two_hop_cents,
           CAST(least(COALESCE(d.w, 9223372036854775807),
                      COALESCE(h.w2, 9223372036854775807)) AS BIGINT)
             AS best_cents
    FROM e d FULL OUTER JOIN hop2 h ON d.src = h.src AND d.dst = h.dst
    """,
)
def q165_cheapest_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest 1-or-2-hop route between nations over the trade graph
    (edge weight = cheapest observed line item between the customer's
    and supplier's nations) — one round of MIN-PLUS matrix algebra,
    the building block of distributed shortest paths (each further
    round doubles the hop horizon; q56/q83's fixpoint machinery runs
    the loop when diameters are unknown).

    The min-plus step IS a join + partial-aggregated min — facts
    reduce to the |nations|² edge list FIRST, so the quadratic algebra
    runs on dims, never rows; the full-outer join surfaces pairs
    reachable only directly, only via a relay, or both."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    e = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("w"),
        )
        .join(
            F.broadcast(orders.select("o_orderkey", "o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    a = e.select(F.col("src"), F.col("dst").alias("mid"), F.col("w").alias("wa"))
    b = e.select(F.col("src").alias("mid"), F.col("dst"), F.col("w").alias("wb"))
    hop2 = (
        a.join(b, "mid")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min(F.col("wa") + F.col("wb")).alias("w2"))
    )
    d = e.select("src", "dst", F.col("w"))
    inf = F.lit(9223372036854775807)
    return d.join(hop2, ["src", "dst"], "full_outer").select(
        "src",
        "dst",
        F.col("w").cast("long").alias("direct_cents"),
        F.col("w2").cast("long").alias("two_hop_cents"),
        F.least(F.coalesce("w", inf), F.coalesce("w2", inf))
        .cast("long")
        .alias("best_cents"),
    )


@register(
    "q166_array_functions",
    """
    SELECT vec_id, label,
           CAST(floor(sqrt(list_sum(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                       * CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                ) / 1e12) * 1000000 + 0.5) AS BIGINT) AS norm_micro,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
             AS n_positive,
           CAST(list_sum(list_transform(
                  list_zip(embedding[1:63], embedding[2:64]),
                  p -> CASE WHEN CAST(p[2] AS DOUBLE) > CAST(p[1] AS DOUBLE)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS n_ascents
    FROM embeddings
    """,
)
def q166_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions head-to-head: per-vector L2 norm
    (transform + aggregate over exact micro-int squares, one IEEE
    sqrt at the end), positive-dimension count (filter + size), and
    adjacent-ascent count (zip_with over the array against its own
    shift) — the array algebra that keeps vector feature engineering
    scan-side instead of exploding 64 rows per vector (q145 is the
    explode form: use THIS one when the answer is per-vector, that
    one when it is per-dimension).

    All three run inside whole-stage codegen — no explode, no
    shuffle beyond none at all (zero exchanges, plan-pinned), no
    Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    micro = "CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
    return emb.select(
        "vec_id",
        "label",
        F.floor(
            F.sqrt(
                F.expr(
                    f"aggregate(embedding, 0L, (acc, x) -> acc + {micro} * {micro})"
                )
                / F.lit(1e12)
            )
            * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("norm_micro"),
        F.expr("size(filter(embedding, x -> x > 0))")
        .cast("long")
        .alias("n_positive"),
        F.expr(
            "aggregate(zip_with(slice(embedding, 1, 63),"
            " slice(embedding, 2, 63),"
            " (a, b) -> CASE WHEN CAST(b AS DOUBLE) > CAST(a AS DOUBLE)"
            " THEN 1 ELSE 0 END), 0, (acc, x) -> acc + x)"
        )
        .cast("long")
        .alias("n_ascents"),
    )


@register(
    "q167_revenue_trend",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS day,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    lo AS (SELECT min(day) AS d0 FROM o),
    daily AS (SELECT n.n_name, o.day - l.d0 AS x, sum(o.cents) AS y
              FROM o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              CROSS JOIN lo l
              GROUP BY 1, 2),
    s AS (SELECT n_name, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM daily GROUP BY 1)
    SELECT n_name, CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             AS slope_cents_per_day
    FROM s
    """,
)
def q167_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue TREND: the ordinary-least-squares slope of
    daily revenue over time, computed entirely from the five classic
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) — a regression fit as
    ONE aggregation pass, no iteration, no ML library.

    Exactness: days RECENTER to day-zero first (a broadcast 1-row
    min) — without it nΣxy overflows int64 at epoch-day magnitudes —
    then every statistic is an exact integer sum; the slope emits as
    the exact numerator/denominator pair plus ONE double division of
    those exact integers (identical on both engines — scaling to
    integer micro first would overflow int64 at these magnitudes).
    Shape: facts partial-aggregate to nation x day, then to 25
    stat rows; the windowless form of trend detection that scales to
    any series length."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = orders.select(
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("long")
        .alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    lo = o.agg(F.min("day").alias("d0"))
    daily = (
        o.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .crossJoin(F.broadcast(lo))
        .select(
            "n_name", (F.col("day") - F.col("d0")).alias("x"), "cents"
        )
        .groupBy("n_name", "x")
        .agg(F.sum("cents").alias("y"))
    )
    s = daily.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "n_name",
        F.col("n").cast("long").alias("n_days"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.round(num.cast("double") / den.cast("double"), 6).alias(
            "slope_cents_per_day"
        ),
    )


@register(
    "q168_duplicate_payments",
    """
    WITH e AS (SELECT event_id, user_id,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events WHERE event_type = 'purchase')
    SELECT a.user_id,
           a.event_id AS first_id, b.event_id AS second_id,
           CAST(abs(b.cents - a.cents) AS BIGINT) AS amount_gap_cents,
           CAST(b.sec - a.sec AS BIGINT) AS gap_s
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.sec - a.sec BETWEEN 0 AND 1800
    """,
)
def q168_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-velocity audit: pairs of purchases by the same user
    within 30 minutes, with the exact amount gap — the
    fraud/idempotency screen every payments pipeline runs (rapid
    repeats are the double-charge / card-testing signature).

    The user equi-join does the heavy lifting as a plain hash join,
    so the quadratic time-band check runs only inside each user's
    purchase set — at 100 TB the band would additionally bucket on
    floor(sec/1800) joined to adjacent buckets (the q40 range-join
    recipe) for hot accounts.  Amounts and gaps are exact integers."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.unix_timestamp("ts").cast("long").alias("sec"),
    )
    a = e.select(
        F.col("user_id"), F.col("cents").alias("ca"),
        F.col("event_id").alias("first_id"), F.col("sec").alias("sa"),
    )
    b = e.select(
        F.col("user_id"), F.col("cents").alias("cb"),
        F.col("event_id").alias("second_id"), F.col("sec").alias("sb"),
    )
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("first_id") < F.col("second_id"))
            & (F.col("sb") - F.col("sa")).between(0, 1800)
        )
        .select(
            "user_id",
            "first_id",
            "second_id",
            F.abs(F.col("cb") - F.col("ca"))
            .cast("long")
            .alias("amount_gap_cents"),
            (F.col("sb") - F.col("sa")).cast("long").alias("gap_s"),
        )
    )


@register(
    "q169_activity_heatmap",
    """
    WITH e AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
                      CAST(floor(epoch(ts)/3600) AS BIGINT) % 24 AS hour,
                      CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro
               FROM events)
    SELECT CAST((day + 4) % 7 AS BIGINT) AS dow,
           CAST(hour AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v_micro) AS BIGINT) AS value_micro
    FROM e GROUP BY 1, 2
    """,
)
def q169_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap — the seasonality profile
    under capacity planning and anomaly baselines (q123's trailing
    windows assume you know the weekly shape; this measures it).

    Day-of-week computes PORTABLY as (epoch_day + 4) % 7 (1970-01-01
    was a Thursday, day 0 -> (0+4)%7 = 4 = Thursday, so the scale is
    0=Sunday..6=Saturday) — engine date functions disagree on
    week start and 1- vs 0-basing, so the oracle-exact form is pure
    integer arithmetic on the epoch.  One partial-aggregated exchange
    over at most 168 cells."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("day"),
        (F.floor(F.unix_timestamp("ts") / F.lit(3600)) % 24)
        .cast("long")
        .alias("hour"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("v_micro"),
    )
    return (
        e.select(
            ((F.col("day") + 4) % 7).cast("long").alias("dow"),
            "hour",
            "v_micro",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("v_micro").cast("long").alias("value_micro"),
        )
    )


@register(
    "q170_week_over_week",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) // 7
                        AS week,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    w AS (SELECT n.n_name, o.week, sum(o.cents) AS rev
          FROM o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY 1, 2),
    l AS (SELECT n_name, week, rev,
                 lag(rev) OVER (PARTITION BY n_name ORDER BY week) AS prev,
                 lag(week) OVER (PARTITION BY n_name ORDER BY week) AS pweek
          FROM w)
    SELECT n_name, CAST(week AS BIGINT) AS week,
           CAST(rev AS BIGINT) AS rev_cents,
           CAST(rev - prev AS BIGINT) AS delta_cents,
           CAST((1000 * (rev - prev)) // prev AS BIGINT) AS delta_permille
    FROM l
    WHERE prev IS NOT NULL AND prev > 0 AND pweek = week - 1
    """,
)
def q170_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue deltas per nation — the growth readout
    on every dashboard, emitted ONLY for consecutive weeks (a lag
    across a gap silently compares to the wrong period: the pweek =
    week-1 guard makes the comparison honest).  Facts partial-
    aggregate to nation x week before the lag; deltas exact cents,
    growth as integer permille."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = (
        orders.select(
            "o_custkey",
            F.expr("floor(unix_timestamp(o_orderdate) / 86400) div 7")
            .cast("long")
            .alias("week"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "week")
        .agg(F.sum("cents").alias("rev"))
    )
    win = Window.partitionBy("n_name").orderBy("week")
    l = w.select(
        "n_name",
        "week",
        "rev",
        F.lag("rev").over(win).alias("prev"),
        F.lag("week").over(win).alias("pweek"),
    )
    return l.filter(
        F.col("prev").isNotNull()
        & (F.col("prev") > 0)
        & (F.col("pweek") == F.col("week") - 1)
    ).select(
        "n_name",
        F.col("week").cast("long").alias("week"),
        F.col("rev").cast("long").alias("rev_cents"),
        (F.col("rev") - F.col("prev")).cast("long").alias("delta_cents"),
        F.expr("(1000 * (rev - prev)) div prev")
        .cast("long")
        .alias("delta_permille"),
    )


@register(
    "q171_stream_bitmap_dau",
    """
    SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1
    """,
)
def q171_stream_bitmap_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q154's bitmap exact-distinct maintained ON THE STREAM
    (:func:`streaming.runner.stream_bitmap_dau`): per-batch bitmaps
    OR-merge into the target — and because bitmap OR is IDEMPOTENT,
    replayed batches are no-ops by algebra alone, no batch-id ledger
    (the deliberate contrast with q105/q162's additive counters, which
    need one).  The three exactly-once recipes now sit side by side:
    latest-wins (q69), additive + ledger (q105/q162), idempotent
    merge (here).  Stream-end popcounts equal the batch COUNT
    DISTINCT oracle."""
    from .streaming.runner import stream_bitmap_dau

    words = stream_bitmap_dau(spark, sf_dir)
    return words.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("dau")
    )


@register(
    "q172_grouped_pandas_mad_outliers",
    """
    WITH e AS (SELECT user_id, event_id,
                      CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
               FROM events),
    med AS (SELECT user_id, median(v) AS m FROM e GROUP BY 1),
    dev AS (SELECT e.user_id, e.event_id, e.v, abs(e.v - med.m) AS d,
                   med.m
            FROM e JOIN med ON e.user_id = med.user_id),
    mad AS (SELECT user_id, median(d) AS mad FROM dev GROUP BY 1)
    SELECT d.user_id, d.event_id, d.v AS v_micro,
           CAST(d.m * 2 AS BIGINT) AS median_x2,
           CAST(mad.mad * 2 AS BIGINT) AS mad_x2
    FROM dev d JOIN mad ON d.user_id = mad.user_id
    WHERE abs(d.v - d.m) > 3 * mad.mad AND mad.mad > 0
    """,
)
def q172_grouped_pandas_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outliers (|v - median| > 3*MAD) computed in a
    GROUPED-MAP ``applyInPandas`` — the one Pandas API shape the repo
    had not yet exercised (mapInPandas streams batches;
    applyInPandasWithState holds streaming state; THIS one hands each
    group to numpy whole).  It is the escape hatch for per-group
    logic with no SQL form; here the logic IS SQL-expressible on
    purpose, so the oracle proves the plumbing (grouping, Arrow
    round-trip, numpy median semantics) exact — the certification
    pattern for when a real non-SQL kernel lands in the slot.

    Exactness: values are integer micro-units; numpy's even-count
    median interpolation lands on the .5 grid, so median and MAD emit
    DOUBLED (x2) to stay integers.  Skew posture: one exchange on
    user_id; a hot user bounds a task at that user's row count —
    same hazard class as sessionization, same mitigations."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("v"),
    )

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = pdf["v"].to_numpy(dtype="int64")
        m2 = int(round(float(np.median(v)) * 2))
        d2 = np.abs(v * 2 - m2)  # doubled deviations stay integral
        mad2 = int(round(float(np.median(d2))))
        # both sides carry the same x2 scale; mad2 == 0 keeps nothing.
        # Pure-numpy column construction: the pandas loc/copy/assign
        # form cost ~4x per group (r12 opt micro-bench, 1.7 s -> 0.4 s
        # over the 1500 sf0.1 groups), all of it per-group overhead.
        keep = (d2 > 3 * mad2) if mad2 > 0 else np.zeros(len(v), dtype=bool)
        k = int(keep.sum())
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy()[keep],
                "event_id": pdf["event_id"].to_numpy()[keep],
                "v": v[keep],
                "median_x2": np.full(k, m2, dtype="int64"),
                "mad_x2": np.full(k, mad2, dtype="int64"),
            }
        )

    schema = (
        "user_id long, event_id long, v long, median_x2 long, mad_x2 long"
    )
    from .functions.partitioning import pandas_parallelism

    # keyed repartition to cores/2 BELOW the grouped-map stage: the
    # explicit hash exchange satisfies applyInPandas' distribution
    # requirement (still ONE exchange) at a width that keeps
    # (JVM thread + Python worker) pairs == cores — tasks == cores
    # oversubscribes 2x and measured 5x slower (see pandas_parallelism)
    return (
        e.repartition(pandas_parallelism(e), "user_id")
        .groupBy("user_id")
        .applyInPandas(per_user, schema)
        .select(
            "user_id",
            "event_id",
            F.col("v").alias("v_micro"),
            "median_x2",
            "mad_x2",
        )
    )


@register(
    "q173_ltv_cohort_decay",
    """
    WITH o AS (SELECT o_custkey,
                      year(o_orderdate) * 12 + month(o_orderdate) AS ym,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    cohort AS (SELECT o_custkey, min(ym) AS m0 FROM o GROUP BY 1),
    cell AS (SELECT c.m0, o.ym - c.m0 AS age,
                    count(DISTINCT o.o_custkey) AS n_active,
                    sum(o.cents) AS rev
             FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
             GROUP BY 1, 2),
    sz AS (SELECT m0, count(*) AS cohort_n FROM cohort GROUP BY 1)
    SELECT cell.m0 AS cohort_ym, CAST(cell.age AS BIGINT) AS age_months,
           CAST(cell.n_active AS BIGINT) AS n_active,
           CAST(sz.cohort_n AS BIGINT) AS cohort_size,
           CAST(cell.rev AS BIGINT) AS rev_cents,
           CAST(sum(cell.rev) OVER (PARTITION BY cell.m0 ORDER BY cell.age)
                AS BIGINT) AS cum_rev_cents
    FROM cell JOIN sz ON cell.m0 = sz.m0
    """,
)
def q173_ltv_cohort_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value decay triangle: customers cohorted by first-order
    month, then per (cohort, age-in-months) the active count, revenue,
    and CUMULATIVE revenue — the LTV curve finance fits payback models
    on, and the revenue companion to q80's retention matrix.

    Shape: cohorts are one groupBy-min broadcast back onto orders; the
    triangle is a second partial-aggregated groupBy; the cumulative
    window runs per cohort over <= |months| rows.  Month arithmetic is
    y*12+m integers (identical in both engines under UTC); revenue is
    exact cents end-to-end."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("ym").alias("m0"))
    cell = (
        o.join(F.broadcast(cohort), "o_custkey")
        .groupBy("m0", (F.col("ym") - F.col("m0")).alias("age"))
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("rev"),
        )
    )
    sz = cohort.groupBy("m0").agg(F.count("*").alias("cohort_n"))
    w = Window.partitionBy("m0").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cell.join(F.broadcast(sz), "m0")
        .select(
            F.col("m0").alias("cohort_ym"),
            F.col("age").cast("long").alias("age_months"),
            F.col("n_active").cast("long"),
            F.col("cohort_n").cast("long").alias("cohort_size"),
            F.col("rev").cast("long").alias("rev_cents"),
            F.sum("rev").over(w).cast("long").alias("cum_rev_cents"),
        )
    )


@register(
    "q174_dedup_survivor_policies",
    r"""
    WITH fp AS (SELECT doc_id, n_chars,
                       md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                               '\s+', ' ', 'g'))) AS fp
                FROM documents),
    cl AS (SELECT fp, count(*) AS sz,
                  min(doc_id) AS keep_first,
                  max_by(doc_id, n_chars * 10000000000 + doc_id) AS keep_longest
           FROM fp GROUP BY fp HAVING count(*) > 1)
    SELECT fp, CAST(sz AS BIGINT) AS cluster_size,
           keep_first, keep_longest,
           CASE WHEN keep_first <> keep_longest THEN 1 ELSE 0 END
             AS policies_differ
    FROM cl
    """,
)
def q174_dedup_survivor_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor SELECTION is a policy, not a given: for every near-dup
    cluster, the keep-FIRST canonical (min doc_id — stable,
    replay-friendly, what q149 uses) versus keep-LONGEST (max content
    — what quality-first pipelines prefer), and whether they disagree.
    Both are single aggregates over the fingerprint groupBy — choosing
    a policy costs nothing at any scale; shipping the WRONG default
    silently costs content, which is why the diff itself is the
    deliverable.  max_by keys on the composite n_chars*1e10 + doc_id so
    equal lengths tie-break on doc_id identically in both engines."""
    from .functions.textfn import normalize_ws

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "n_chars",
        F.md5(normalize_ws(F.substring(F.col("text"), 1, 100))).alias("fp"),
    )
    cl = (
        fp.groupBy("fp")
        .agg(
            F.count("*").alias("sz"),
            F.min("doc_id").alias("keep_first"),
            F.max_by(
                "doc_id", F.col("n_chars") * F.lit(10_000_000_000) + F.col("doc_id")
            ).alias("keep_longest"),
        )
        .filter(F.col("sz") > 1)
    )
    return cl.select(
        "fp",
        F.col("sz").cast("long").alias("cluster_size"),
        "keep_first",
        "keep_longest",
        F.when(F.col("keep_first") != F.col("keep_longest"), 1)
        .otherwise(0)
        .alias("policies_differ"),
    )


@register(
    "q175_knn_classifier_eval",
    """
    WITH probes AS (SELECT pid, pe, plab FROM (
                      SELECT vec_id AS pid, embedding AS pe, label AS plab
                      FROM embeddings WHERE vec_id % 20 = 0
                      ORDER BY md5('q175|' || CAST(vec_id AS VARCHAR)), vec_id
                      LIMIT 2000)),
    pairs AS (
      SELECT p.pid, p.plab, e.vec_id, e.label,
             SUM(CAST(e.embedding[s.i] AS DOUBLE)
                 * CAST(p.pe[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(e.embedding[s.i] AS DOUBLE)
                 * CAST(e.embedding[s.i] AS DOUBLE)) AS na2,
             SUM(CAST(p.pe[s.i] AS DOUBLE) * CAST(p.pe[s.i] AS DOUBLE))
               AS nb2
      FROM embeddings e CROSS JOIN probes p
      CROSS JOIN generate_series(1, 64) s(i)
      WHERE e.vec_id <> p.pid
      GROUP BY 1, 2, 3, 4),
    ranked AS (SELECT pid, plab, label,
                      row_number() OVER (
                        PARTITION BY pid
                        ORDER BY ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) DESC,
                                 vec_id) AS rn
               FROM pairs),
    votes AS (SELECT pid, plab, label, count(*) AS v
              FROM ranked WHERE rn <= 10 GROUP BY 1, 2, 3),
    pred AS (SELECT pid, plab,
                    max_by(label, v * 1000 - label) AS pred_label,
                    max(v) AS n_votes
             FROM votes GROUP BY 1, 2)
    SELECT pid AS probe_id, CAST(plab AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           CASE WHEN plab = pred_label THEN 1 ELSE 0 END AS correct
    FROM pred
    """,
)
def q175_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFIER evaluation in the engine: for a deterministic
    probe sample, the majority label among its exact top-10 cosine
    neighbors versus its true label — the leave-one-out readout that
    certifies an embedding space carries label signal before anyone
    trains on it (q111 measures the ANN index's recall; this measures
    the SPACE).

    Probe bound is CORPUS-INDEPENDENT (r7 verdict item 2 — this was
    the inventory's last uncapped quadratic): the every-20th candidate
    set is cut to the PROBE_CAP=2000 smallest md5('q175|'||vec_id)
    draws (the retry-stable ``sampling.py`` idiom), so exact scoring
    is at most 2000 x |corpus| pairs and the broadcast side is <= 2000
    vectors regardless of corpus size — 100x data means 100x work, not
    10,000x.  The cut compiles to TakeOrderedAndProject (per-partition
    top-N, no global sort).  The cap is part of the declared
    semantics; the oracle selects the identical probe set.

    Probes broadcast against the corpus (the |probes| x |corpus|
    score matrix distributes by corpus row, never materializes
    driver-side); ranking cuts at rounded-cosine + vec_id so the
    neighbor set is engine-exact (the q13 contract); the vote argmax
    keys on v*1000 - label (more votes win, ties prefer the SMALLER
    label) — one integer, no struct ordering."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # norms are per-VECTOR, so compute them once per side BEFORE the
    # cross join (|corpus| + |probes| evaluations) instead of once per
    # PAIR (|corpus| x |probes| — the r12-opt find: the interpreted
    # HOF norm re-ran 2500x per corpus vector; isolated 2.9 s -> 1.4 s
    # for the scoring stage, bit-identical cosines).  sqrt is
    # monotonic-safe here: same double ops, just hoisted.
    norm = (
        "sqrt(aggregate({c}, 0D, (acc, x) ->"
        " acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    emb_n = emb.withColumn("_na", F.expr(norm.format(c="embedding")))
    probes = (
        emb_n.filter(F.col("vec_id") % 20 == 0)
        .select(
            F.col("vec_id").alias("pid"),
            F.col("embedding").alias("pe"),
            F.col("label").alias("plab"),
            F.col("_na").alias("_nb"),
        )
        .orderBy(
            F.md5(
                F.concat_ws("|", F.lit("q175"), F.col("pid").cast("string"))
            ),
            F.asc("pid"),
        )
        .limit(2000)
    )
    pairs = emb_n.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("pid")
    )
    dp = F.expr(
        "aggregate(zip_with(embedding, pe, (a, b) ->"
        " CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0D, (acc, x) -> acc + x)"
    )
    scored = pairs.select(
        "pid",
        "plab",
        "vec_id",
        "label",
        F.round(dp / (F.col("_na") * F.col("_nb")), 6).alias("cos"),
    )
    w = Window.partitionBy("pid").orderBy(F.desc("cos"), F.asc("vec_id"))
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 10
    )
    votes = topk.groupBy("pid", "plab", "label").agg(F.count("*").alias("v"))
    pred = votes.groupBy("pid", "plab").agg(
        F.max_by("label", F.col("v") * 1000 - F.col("label")).alias(
            "pred_label"
        ),
        F.max("v").alias("n_votes"),
    )
    return pred.select(
        F.col("pid").alias("probe_id"),
        F.col("plab").cast("long").alias("true_label"),
        F.col("pred_label").cast("long").alias("pred_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
        F.when(F.col("plab") == F.col("pred_label"), 1)
        .otherwise(0)
        .alias("correct"),
    )


@register(
    "q176_hierarchical_shares",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    rev AS (SELECT r.r_name, n.n_name, sum(o.cents) AS rev
            FROM o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2),
    reg AS (SELECT r_name, sum(rev) AS rrev FROM rev GROUP BY 1),
    tot AS (SELECT sum(rev) AS trev FROM rev)
    SELECT rev.r_name, rev.n_name, CAST(rev.rev AS BIGINT) AS rev_cents,
           CAST((1000000 * rev.rev) // reg.rrev AS BIGINT)
             AS share_of_region_ppm,
           CAST((1000000 * reg.rrev) // tot.trev AS BIGINT)
             AS region_share_ppm,
           CAST((1000000 * rev.rev) // tot.trev AS BIGINT)
             AS share_of_total_ppm
    FROM rev JOIN reg ON rev.r_name = reg.r_name CROSS JOIN tot
    """,
)
def q176_hierarchical_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution drill: each nation's share of its
    REGION, the region's share of the TOTAL, and the through-share —
    the two-level ratio decomposition every drill-down report needs
    consistent (nation/region x region/total must equal nation/total
    up to integer-division truncation, which is why all three emit
    from the same exact cents).

    One fact aggregate feeds both rollup levels; region totals and the
    1-row grand total broadcast back — three levels, one scan."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum("cents").alias("rev"))
    )
    reg = rev.groupBy("r_name").agg(F.sum("rev").alias("rrev"))
    tot = rev.agg(F.sum("rev").alias("trev"))
    return (
        rev.join(F.broadcast(reg), "r_name")
        .crossJoin(F.broadcast(tot))
        .select(
            "r_name",
            "n_name",
            F.col("rev").cast("long").alias("rev_cents"),
            F.expr("(1000000 * rev) div rrev")
            .cast("long")
            .alias("share_of_region_ppm"),
            F.expr("(1000000 * rrev) div trev")
            .cast("long")
            .alias("region_share_ppm"),
            F.expr("(1000000 * rev) div trev")
            .cast("long")
            .alias("share_of_total_ppm"),
        )
    )


@register(
    "q177_contingency_expected",
    """
    WITH c AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
                      count(*) AS o
               FROM orders GROUP BY 1, 2),
    rt AS (SELECT pri, sum(o) AS rn FROM c GROUP BY 1),
    ct AS (SELECT st, sum(o) AS cn FROM c GROUP BY 1),
    t AS (SELECT sum(o) AS n FROM c)
    SELECT c.pri, c.st, CAST(c.o AS BIGINT) AS observed,
           CAST(rt.rn * ct.cn AS BIGINT) AS expected_num,
           CAST(t.n AS BIGINT) AS expected_den,
           ROUND(CAST(c.o * t.n - rt.rn * ct.cn AS DOUBLE)
                 * CAST(c.o * t.n - rt.rn * ct.cn AS DOUBLE)
                 / (CAST(rt.rn * ct.cn AS DOUBLE) * t.n), 6) AS chi2_term
    FROM c JOIN rt ON c.pri = rt.pri JOIN ct ON c.st = ct.st CROSS JOIN t
    """,
)
def q177_contingency_expected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table with expected counts and chi-square terms:
    order priority x status observed counts, the independence-model
    expectation row*col/N as an EXACT integer rational
    (numerator/denominator), and the chi-square contribution — the
    association test behind segment drift checks.

    The chi2 term algebra is rearranged to integer-first form:
    (o*N - r*c)^2 / (r*c*N) — every product is an exact int64 (counts
    here are <= 1e6, so o*N <= 1e12) and the ONE double division at
    the end is engine-identical.  Marginals broadcast; one scan."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count("*").alias("o"))
    rt = c.groupBy("pri").agg(F.sum("o").alias("rn"))
    ct = c.groupBy("st").agg(F.sum("o").alias("cn"))
    t = c.agg(F.sum("o").alias("n"))
    num = F.col("o") * F.col("n") - F.col("rn") * F.col("cn")
    return (
        c.join(F.broadcast(rt), "pri")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(t))
        .select(
            "pri",
            "st",
            F.col("o").cast("long").alias("observed"),
            (F.col("rn") * F.col("cn")).cast("long").alias("expected_num"),
            F.col("n").cast("long").alias("expected_den"),
            F.round(
                num.cast("double")
                * num.cast("double")
                / (
                    (F.col("rn") * F.col("cn")).cast("double") * F.col("n")
                ),
                6,
            ).alias("chi2_term"),
        )
    )


@register(
    "q178_user_profile",
    """
    WITH lagd AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT day) AS BIGINT) AS active_days,
           CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
           CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           min(us) AS first_us, max(us) AS last_us,
           CAST(sum(v_micro) AS BIGINT) AS value_micro,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM lagd GROUP BY user_id
    """,
)
def q178_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-360 profile: events, distinct active days, calendar
    span, session count (30-min-gap boundaries counted INLINE — the
    lag rides the same user exchange as the rollup, no separate
    sessionization pass), first/last seen, exact value sum, purchase
    count — the feature row entity stores serve, produced in ONE
    exchange over the fact table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("day"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("v_micro"),
        F.lag(F.unix_micros(F.col("ts"))).over(w).alias("prev"),
    )
    new_sess = F.when(
        F.col("prev").isNull()
        | ((F.col("us") - F.col("prev")) > 1_800_000_000),
        1,
    ).otherwise(0)
    return base.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("day").cast("long").alias("active_days"),
        (F.max("day") - F.min("day") + 1).cast("long").alias("span_days"),
        F.sum(new_sess).cast("long").alias("n_sessions"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.sum("v_micro").cast("long").alias("value_micro"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )


@register(
    "q179_order_backlog",
    """
    WITH iv AS (SELECT o.o_orderkey,
                       CAST(floor(epoch(o.o_orderdate)/86400) AS BIGINT) AS s,
                       CAST(floor(epoch(max(l.l_shipdate))/86400) AS BIGINT)
                         AS e
                FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                GROUP BY o.o_orderkey, o.o_orderdate),
    d AS (SELECT s AS t, 1 AS nd FROM iv WHERE e >= s
          UNION ALL SELECT e + 1, -1 FROM iv WHERE e >= s),
    net AS (SELECT t, sum(nd) AS nd FROM d GROUP BY t),
    run AS (SELECT t, sum(nd) OVER (ORDER BY t) AS conc,
                   COALESCE(sum(nd) OVER (ORDER BY t ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_conc
            FROM net),
    hb AS (SELECT CAST(floor(t / 7) * 7 AS BIGINT) AS bucket_start,
                  conc, prev_conc, t
           FROM run)
    SELECT bucket_start,
           CAST(CASE WHEN min(t) > bucket_start
                     THEN greatest(max(conc), min_by(prev_conc, t))
                     ELSE max(conc) END AS BIGINT) AS max_concurrent
    FROM hb GROUP BY bucket_start
    """,
)
def q179_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak order BACKLOG per week: an order is open from its order
    date until its last line item ships; the weekly maximum of
    simultaneously-open orders is the fulfillment-capacity readout.
    OPERATOR REUSE is the point — this is
    :func:`operators.windows.interval_concurrency` (q124's
    distributed sweep-line) fed a different interval semantic and a
    different bucket width (7-day buckets in DAY units), against the
    same naive-global-running-sum oracle shape."""
    from .operators.windows import interval_concurrency

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        orders.select(
            "o_orderkey",
            F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
            .cast("long")
            .alias("s"),
        )
        .join(
            li.select(
                "l_orderkey",
                F.floor(F.unix_timestamp("l_shipdate") / F.lit(86400))
                .cast("long")
                .alias("ship_day"),
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey", "s")
        .agg(F.max("ship_day").alias("e"))
        .filter(F.col("e") >= F.col("s"))
    )
    return interval_concurrency(iv, "s", "e", bucket_sec=7).select(
        "bucket_start", "max_concurrent"
    )


@register(
    "q180_daily_concentration",
    """
    WITH c AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
                      user_id, count(*) AS n
               FROM events GROUP BY 1, 2)
    SELECT day,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST((1000000 * sum(n * n)) // (sum(n) * sum(n)) AS BIGINT)
             AS hhi_ppm,
           CAST((1000000 * max(n)) // sum(n) AS BIGINT)
             AS top_user_share_ppm
    FROM c GROUP BY day
    """,
)
def q180_daily_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily traffic CONCENTRATION: the Herfindahl index
    (Σ share² = Σn_u² / N², in exact integer ppm) and the top user's
    share per day — the abuse/fairness monitor that flags a single
    tenant dominating a day's volume, and the measurement companion
    to the skew mitigations (q75/q82 salt hot keys; this DETECTS
    them).  Two partial-aggregated exchanges ((day, user) counts,
    then day rollup); all arithmetic exact integers."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / F.lit(86400))
            .cast("long")
            .alias("day"),
            "user_id",
        )
        .groupBy("day", "user_id")
        .agg(F.count("*").alias("n"))
    )
    return c.groupBy("day").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_users"),
        F.expr("(1000000 * sum(n * n)) div (sum(n) * sum(n))")
        .cast("long")
        .alias("hhi_ppm"),
        F.expr("(1000000 * max(n)) div sum(n)")
        .cast("long")
        .alias("top_user_share_ppm"),
    )


@register(
    "q181_label_propagation",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS x, b.l_partkey AS y
           FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS (SELECT x, y FROM e0 UNION ALL SELECT y, x FROM e0),
    l0 AS (SELECT DISTINCT x AS v, x AS lab FROM e),
    r1 AS (SELECT e.x AS v, min(l0.lab) AS lab
           FROM e JOIN l0 ON e.y = l0.v GROUP BY 1),
    l1 AS (SELECT l0.v, least(l0.lab, COALESCE(r1.lab, l0.lab)) AS lab
           FROM l0 LEFT JOIN r1 ON l0.v = r1.v),
    r2 AS (SELECT e.x AS v, min(l1.lab) AS lab
           FROM e JOIN l1 ON e.y = l1.v GROUP BY 1),
    l2 AS (SELECT l1.v, least(l1.lab, COALESCE(r2.lab, l1.lab)) AS lab
           FROM l1 LEFT JOIN r2 ON l1.v = r2.v)
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(v) AS BIGINT) AS min_member,
           CAST(max(v) AS BIGINT) AS max_member
    FROM l2 GROUP BY lab
    """,
)
def q181_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO synchronous rounds of min-label propagation over the
    co-purchase graph, rolled up to community sizes — the bounded-round
    form of community detection (the FIXPOINT form with reliable
    checkpoints and crash-resume is q56/q83's connected components;
    this exposes the per-round algebra itself, and the oracle UNROLLS
    both rounds in SQL the way q98's k-means and q106's PageRank
    oracles do).

    Each round is one join against the undirected edge list + a
    partial-aggregated min — the min-plus pattern (q165) with MIN as
    the semiring.  Labels are vertex ids, so everything is exact
    integers."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("x"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("y"))
    e0 = (
        a.join(b, "k")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("x", "y")
    )
    e = e0.unionAll(e0.select(F.col("y").alias("x"), F.col("x").alias("y")))
    labels = e.select(F.col("x").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    for _ in range(2):
        nbr = (
            e.join(
                labels.select(F.col("v").alias("y"), F.col("lab")), "y"
            )
            .groupBy(F.col("x").alias("v"))
            .agg(F.min("lab").alias("nlab"))
        )
        labels = labels.join(nbr, "v", "left").select(
            "v",
            F.least(
                F.col("lab"), F.coalesce("nlab", F.col("lab"))
            ).alias("lab"),
        )
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("v").cast("long").alias("min_member"),
        F.max("v").cast("long").alias("max_member"),
    )


@register(
    "q182_containment_neardup",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(list_slice(t, i, i + 2), ' ')))
                    AS shingle
           FROM toks),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pair AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             FROM sh a JOIN sh b
               ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
             GROUP BY 1, 2 HAVING count(*) >= 20)
    SELECT p.da AS contained_doc, p.db AS container_doc,
           CAST(p.i AS BIGINT) AS n_shared,
           CAST(sa.n AS BIGINT) AS n_contained,
           CAST((1000000 * p.i) // sa.n AS BIGINT) AS containment_ppm
    FROM pair p JOIN sz sa ON p.da = sa.doc_id
    WHERE p.i * 10 >= sa.n * 8
    """,
)
def q182_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle CONTAINMENT |A∩B|/|A| >= 0.8 —
    the relation Jaccard misses when a small document is swallowed by
    a much larger one (quote expansion, boilerplate wrapping: the
    union washes the symmetric score out, but containment of the
    SMALL side stays high).  The directional complement to
    q17/q39's symmetric families.

    Same inverted-index posture: pairs only through shared shingles,
    min-intersection HAVING prunes the tail before the size join, and
    the 0.8 threshold is the integer cross-multiplication i*10 >=
    n*8.  Output is directional (contained -> container)."""
    from .functions.textfn import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
            )
        ).alias("shingle"),
    ).distinct()
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select("shingle", F.col("doc_id").alias("da"))
    b = sh.select("shingle", F.col("doc_id").alias("db"))
    pair = (
        a.join(b, "shingle")
        .filter(F.col("da") != F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
        .filter(F.col("i") >= 20)
    )
    sa = sz.select(F.col("doc_id").alias("da"), F.col("n"))
    return (
        pair.join(F.broadcast(sa), "da")
        .filter(F.col("i") * 10 >= F.col("n") * 8)
        .select(
            F.col("da").alias("contained_doc"),
            F.col("db").alias("container_doc"),
            F.col("i").cast("long").alias("n_shared"),
            F.col("n").cast("long").alias("n_contained"),
            F.expr("(1000000 * i) div n").cast("long").alias(
                "containment_ppm"
            ),
        )
    )


@register(
    "q183_percentile_transform",
    """
    WITH s AS (SELECT doc_id, n_chars FROM documents),
    h AS (SELECT n_chars, count(*) AS c FROM s GROUP BY 1),
    cum AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS cnt_le,
                   (SELECT sum(c) FROM h) AS n
            FROM h)
    SELECT s.doc_id, CAST(s.n_chars AS BIGINT) AS n_chars,
           CAST((1000000 * cum.cnt_le) // cum.n AS BIGINT) AS pct_ppm
    FROM s JOIN cum ON s.n_chars = cum.n_chars
    """,
)
def q183_percentile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank FEATURE TRANSFORM: every document's length
    mapped to its corpus percentile (cume_dist as exact integer ppm)
    — rank-space normalization, the scale-free feature encoding
    robust to outliers and distribution drift.

    The q119 recipe applied as a TRANSFORM rather than a report: the
    cumulative distribution comes from the bounded distinct-value
    histogram (never a corpus-wide sort), then broadcast-joins back
    onto every row — at 100 TB the histogram is |distinct lengths|
    rows and the corpus is touched twice scan-side, zero wide
    shuffles."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select("doc_id", "n_chars")
    h = s.groupBy("n_chars").agg(F.count("*").alias("c"))
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = h.select(
        "n_chars",
        F.sum("c").over(w).alias("cnt_le"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    return s.join(F.broadcast(cum), "n_chars").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr("(1000000 * cnt_le) div n").cast("long").alias("pct_ppm"),
    )


@register(
    "q184_new_vs_returning",
    """
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(ts)/86400) AS BIGINT) AS day
               FROM events),
    first_seen AS (SELECT user_id, min(day) AS d0 FROM e GROUP BY 1),
    du AS (SELECT DISTINCT e.user_id, e.day, f.d0
           FROM e JOIN first_seen f ON e.user_id = f.user_id)
    SELECT day,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN day > d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users,
           CAST((1000 * sum(CASE WHEN day = d0 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS new_share_permille
    FROM du GROUP BY day
    """,
)
def q184_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's active users split into NEW
    (first-ever-seen today) versus RETURNING — the daily top line
    every growth team reads, and the decomposition retention (q80) and
    WAU (q126) curves are built from.

    First-seen days are one groupBy-min broadcast back onto the
    distinct (user, day) activity table; the day rollup carries both
    classes as conditional sums in one pass.  Shares in integer
    permille."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("day"),
    )
    first_seen = e.groupBy("user_id").agg(F.min("day").alias("d0"))
    du = e.distinct().join(F.broadcast(first_seen), "user_id")
    return du.groupBy("day").agg(
        F.count("*").cast("long").alias("active_users"),
        F.sum(F.when(F.col("day") == F.col("d0"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("d0"), 1).otherwise(0))
        .cast("long")
        .alias("returning_users"),
        F.expr(
            "(1000 * sum(CASE WHEN day = d0 THEN 1 ELSE 0 END))"
            " div count(*)"
        )
        .cast("long")
        .alias("new_share_permille"),
    )


@register(
    "q185_monthly_value_bands",
    """
    WITH o AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS ym,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    h AS (SELECT ym, cents, count(*) AS c FROM o GROUP BY 1, 2),
    cum AS (SELECT ym, cents,
                   sum(c) OVER (PARTITION BY ym ORDER BY cents) AS cum,
                   sum(c) OVER (PARTITION BY ym) AS n
            FROM h)
    SELECT ym,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(min(CASE WHEN cum * 10 >= n THEN cents END) AS BIGINT)
             AS p10_cents,
           CAST(min(CASE WHEN cum * 2 >= n THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(min(CASE WHEN cum * 10 >= 9 * n THEN cents END) AS BIGINT)
             AS p90_cents
    FROM cum GROUP BY ym
    """,
)
def q185_monthly_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P50/P90 order-value bands per MONTH — the percentile
    time-series that backs SLA band charts and pricing drift review,
    built from per-month value-histogram crossings (the q133/q146
    machinery with time as the group): state per month is |distinct
    prices that month|, crossings are integer rank inequalities, and
    no month ever sorts its raw orders."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    h = o.groupBy("ym", "cents").agg(F.count("*").alias("c"))
    w = Window.partitionBy("ym").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = h.select(
        "ym",
        "cents",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("ym")).alias("n"),
    )
    return cum.groupBy("ym").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n"), F.col("cents")))
        .cast("long")
        .alias("p10_cents"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("cents")))
        .cast("long")
        .alias("p50_cents"),
        F.min(F.when(F.col("cum") * 10 >= 9 * F.col("n"), F.col("cents")))
        .cast("long")
        .alias("p90_cents"),
    )


@register(
    "q186_minhash_calibration",
    f"""
    WITH sh AS ({_SQL_SHINGLE3}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pair AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             FROM sh a JOIN sh b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
             GROUP BY 1, 2 HAVING count(*) >= 10),
    ex AS (SELECT p.da, p.db, p.i,
                  (1000000 * p.i) // (sa.n + sb.n - p.i) AS exact_ppm
           FROM pair p JOIN sz sa ON p.da = sa.doc_id
                       JOIN sz sb ON p.db = sb.doc_id),
    sig AS (SELECT doc_id,
                   MIN(md5('0|' || shingle)) AS m0,
                   MIN(md5('1|' || shingle)) AS m1,
                   MIN(md5('2|' || shingle)) AS m2,
                   MIN(md5('3|' || shingle)) AS m3,
                   MIN(md5('4|' || shingle)) AS m4,
                   MIN(md5('5|' || shingle)) AS m5,
                   MIN(md5('6|' || shingle)) AS m6,
                   MIN(md5('7|' || shingle)) AS m7
            FROM sh GROUP BY doc_id),
    est AS (SELECT ex.da, ex.db, ex.i, ex.exact_ppm,
                   (CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END
                    + CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END
                    + CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END
                    + CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END
                    + CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END
                    + CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END
                    + CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END
                    + CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) AS matches
            FROM ex JOIN sig a ON ex.da = a.doc_id
                    JOIN sig b ON ex.db = b.doc_id)
    SELECT da, db, CAST(i AS BIGINT) AS n_shared,
           CAST(exact_ppm AS BIGINT) AS exact_ppm,
           CAST(matches AS BIGINT) AS sig_matches,
           CAST(matches * 125000 AS BIGINT) AS est_ppm,
           CAST(abs(matches * 125000 - exact_ppm) AS BIGINT) AS abs_err_ppm
    FROM est
    """,
)
def q186_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash CALIBRATION: for every doc pair sharing >= 10 shingles,
    the 8-hash signature estimate of Jaccard (matching minima / 8)
    against the EXACT Jaccard, with the absolute error — the
    measurement that justifies (or sizes) the signature width before
    anyone trusts q16's LSH recall (q111 plays this role for the IVF
    index; this plays it for the dedup sketch).

    One shingle explode feeds the exact inverted-index pairs AND the
    signatures; the estimate is pure integer arithmetic (matches x
    125000 ppm), so even the error column hash-matches exactly."""
    from .operators.dedup import minhash_signatures, shingles

    docs = load_table(spark, sf_dir, "documents")
    # NO manual lineage cut here (r8 review, measured): both pair legs
    # reach the shingle set through the SAME shuffle, which Spark
    # already reuses (ReusedExchange), so a localCheckpoint only added
    # cache-block overhead — paired-measured 1.13x SLOWER with the cut
    # (contrast q141/q236/q266, whose consumers take different
    # downstream topologies and genuinely re-scan)
    sh = shingles(docs)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select("shingle", F.col("doc_id").alias("da"))
    b = sh.select("shingle", F.col("doc_id").alias("db"))
    pair = (
        a.join(b, "shingle")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
        .filter(F.col("i") >= 10)
    )
    sa = sz.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    ex = (
        pair.join(F.broadcast(sa), "da")
        .join(F.broadcast(sb), "db")
        .select(
            "da", "db", "i",
            F.expr("(1000000 * i) div (na + nb - i)").alias("exact_ppm"),
        )
    )
    sig = minhash_signatures(docs)
    siga = sig.select(
        F.col("doc_id").alias("da"),
        *[F.col(f"m{k}").alias(f"a{k}") for k in range(8)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("db"),
        *[F.col(f"m{k}").alias(f"b{k}") for k in range(8)],
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(8)
    )
    return (
        ex.join(siga, "da")
        .join(sigb, "db")
        .select(
            "da",
            "db",
            F.col("i").cast("long").alias("n_shared"),
            F.col("exact_ppm").cast("long").alias("exact_ppm"),
            matches.cast("long").alias("sig_matches"),
            (matches * 125000).cast("long").alias("est_ppm"),
            F.abs(matches * 125000 - F.col("exact_ppm"))
            .cast("long")
            .alias("abs_err_ppm"),
        )
    )


@register(
    "q187_topk_with_ties",
    """
    WITH e AS (SELECT event_id, event_type,
                      CAST(floor(value) AS BIGINT) AS bucket
               FROM events),
    r AS (SELECT event_id, event_type, bucket,
                 rank() OVER (PARTITION BY event_type
                              ORDER BY bucket DESC) AS rk,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY bucket DESC, event_id) AS rn
          FROM e)
    SELECT event_type, event_id, bucket,
           CAST(rk AS BIGINT) AS rk,
           CASE WHEN rn <= 3 THEN 1 ELSE 0 END AS in_row_number_top3
    FROM r WHERE rk <= 3
    """,
)
def q187_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 WITH TIES (the SQL:2008 FETCH ... WITH TIES semantic):
    ``rank() <= k`` keeps every row tied at the boundary value, where
    q25's ``row_number() <= k`` silently drops all but an arbitrary
    tie-broken subset — on coarse scores (here integer value buckets)
    the two differ materially, and the ``in_row_number_top3`` flag
    makes the dropped-by-row_number rows visible in the result
    itself.  Same single-exchange window shape as q25; choosing the
    wrong one is a SEMANTIC bug no plan inspection will catch, which
    is why both live in the inventory."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.floor("value").cast("long").alias("bucket"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("bucket"))
    wn = Window.partitionBy("event_type").orderBy(
        F.desc("bucket"), F.asc("event_id")
    )
    r = e.select(
        "event_type",
        "event_id",
        "bucket",
        F.rank().over(wr).alias("rk"),
        F.row_number().over(wn).alias("rn"),
    )
    return r.filter(F.col("rk") <= 3).select(
        "event_type",
        "event_id",
        "bucket",
        F.col("rk").cast("long").alias("rk"),
        F.when(F.col("rn") <= 3, 1).otherwise(0).alias("in_row_number_top3"),
    )


@register(
    "q188_decode_quarantine_report",
    """
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
    cls AS (SELECT doc_id,
                   CASE WHEN ('0x' || substr(hx, 1, 2))::BIGINT % 5 = 0
                        THEN 'quarantined' ELSE 'ok' END AS status
            FROM h)
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM cls GROUP BY status
    """,
)
def q188_decode_quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine ACCOUNTING as a first-class result: ~20% of WAV
    payloads are deterministically corrupted (truncated when the md5's
    first byte ≡ 0 mod 5), the real decoder
    (``multimodal.real_audio_features``) quarantines them in
    ``decode_error`` instead of failing the stage, and this query
    reports the ok/quarantined split.  The hash match against an
    oracle that derives the SAME corruption flag arithmetically proves
    the quarantine path fires on EXACTLY the corrupted set — no good
    payload misclassified, no bad one silently decoded.  The
    operational posture (bad bytes at 100 TB are a statistic, not a
    job failure), certified like any other query."""
    from .operators.multimodal import extract_audio_features

    docs = load_table(spark, sf_dir, "documents")
    data_len = 16
    hdr = (
        b"RIFF" + (36 + data_len).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + data_len.to_bytes(4, "little")
    )
    corrupt = (
        F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("long") % 5 == 0
    )
    payload = F.when(
        corrupt,
        # truncated mid-header: undecodable, must quarantine
        F.substring(F.concat(F.lit(hdr), F.unhex(F.md5("text"))), 1, 10),
    ).otherwise(F.concat(F.lit(hdr), F.unhex(F.md5("text"))))
    feats = extract_audio_features(
        docs.select("doc_id", payload.alias("payload"))
    )
    return (
        feats.select(
            "doc_id",
            F.when(F.col("decode_error").isNotNull(), "quarantined")
            .otherwise("ok")
            .alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
    )


@register(
    "q189_order_basket_arrays",
    """
    WITH li AS (SELECT l_orderkey, l_partkey,
                       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
                FROM lineitem)
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_items,
           string_agg(CAST(l_partkey AS VARCHAR), '|'
                      ORDER BY l_partkey, cents) AS parts,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM li GROUP BY l_orderkey
    """,
)
def q189_order_basket_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMPLODE reshape: line items collapse to one row per order
    with the part list as a DETERMINISTICALLY ORDERED string — the
    row-to-document packaging every training-example or API-response
    export runs (q103 packs time sequences; this packs set-valued
    children).  ``collect_list`` order is partition-arbitrary, so the
    list is sorted before joining (here by (part, cents)) — the
    unordered-collect trap is the whole reason this entry exists.
    One exchange on the order key."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_orderkey",
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return rows.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_items"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(l_partkey, cents))),"
                " s -> cast(s.l_partkey AS STRING))"
            ),
            "|",
        ).alias("parts"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@register(
    "q190_pareto_revenue_share",
    """
    WITH c AS (SELECT o_custkey, sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS cents
               FROM orders GROUP BY 1),
    h AS (SELECT cents, count(*) AS k, sum(cents) AS rev
          FROM c GROUP BY 1),
    cum AS (SELECT cents,
                   sum(k) OVER (ORDER BY cents DESC) AS cnt_ge,
                   sum(rev) OVER (ORDER BY cents DESC) AS rev_ge,
                   (SELECT sum(k) FROM h) AS n,
                   (SELECT sum(rev) FROM h) AS total
            FROM h)
    SELECT CAST(min(CASE WHEN cnt_ge * 10 >= n THEN cents END) AS BIGINT)
             AS p90_cutoff_cents,
           CAST(min(CASE WHEN cnt_ge * 10 >= n THEN cnt_ge END) AS BIGINT)
             AS n_top,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN cnt_ge * 10 >= n THEN rev_ge END) AS BIGINT)
             AS top_rev_cents,
           CAST(max(total) AS BIGINT) AS total_cents,
           CAST((1000000 * min(CASE WHEN cnt_ge * 10 >= n THEN rev_ge END))
                // max(total) AS BIGINT) AS top_decile_share_ppm
    FROM cum
    """,
)
def q190_pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto readout: what share of revenue comes from the top
    10% of customers — whale concentration, the business-side twin of
    q180's daily HHI.  The decile cut comes from the spend-histogram
    crossing DESCENDING (smallest spend c such that >= 10% of
    customers spend >= c), and the share reads off the SAME cumulative
    frame — customers never sort, everything integer-exact including
    the boundary-tie handling (all customers at the cutoff value count
    in, identically in both engines)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents")
    )
    h = c.groupBy("cents").agg(
        F.count("*").alias("k"), F.sum("cents").alias("rev")
    )
    w = Window.orderBy(F.desc("cents")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = h.select(
        "cents",
        F.sum("k").over(w).alias("cnt_ge"),
        F.sum("rev").over(w).alias("rev_ge"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
        F.sum("rev").over(Window.partitionBy()).alias("total"),
    )
    at_cut = F.when(F.col("cnt_ge") * 10 >= F.col("n"), F.col("cents"))
    return cum.agg(
        F.min(at_cut).cast("long").alias("p90_cutoff_cents"),
        F.min(
            F.when(F.col("cnt_ge") * 10 >= F.col("n"), F.col("cnt_ge"))
        )
        .cast("long")
        .alias("n_top"),
        F.max("n").cast("long").alias("n_customers"),
        F.min(
            F.when(F.col("cnt_ge") * 10 >= F.col("n"), F.col("rev_ge"))
        )
        .cast("long")
        .alias("top_rev_cents"),
        F.max("total").cast("long").alias("total_cents"),
        F.expr(
            "(1000000 * min(CASE WHEN cnt_ge * 10 >= n THEN rev_ge END))"
            " div max(total)"
        )
        .cast("long")
        .alias("top_decile_share_ppm"),
    )


@register(
    "q191_rfm_segments",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS day,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    mx AS (SELECT max(day) AS today FROM o),
    cust AS (SELECT o.o_custkey,
                    min(mx.today - o.day) AS recency,
                    count(*) AS frequency,
                    sum(o.cents) AS monetary
             FROM o CROSS JOIN mx GROUP BY 1),
    med AS (SELECT median(recency) AS mr, median(frequency) AS mf,
                   median(monetary) AS mm
            FROM cust),
    seg AS (SELECT c.o_custkey,
                   CASE WHEN c.recency <= m.mr THEN 'R' ELSE 'r' END ||
                   CASE WHEN c.frequency > m.mf THEN 'F' ELSE 'f' END ||
                   CASE WHEN c.monetary > m.mm THEN 'M' ELSE 'm' END
                     AS segment,
                   c.recency, c.frequency, c.monetary
            FROM cust c CROSS JOIN med m)
    SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary) AS BIGINT) AS monetary_cents,
           CAST(sum(frequency) AS BIGINT) AS n_orders,
           CAST(sum(recency) AS BIGINT) AS recency_day_sum
    FROM seg GROUP BY segment
    """,
)
def q191_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored on Recency (days since
    last order, as-of the corpus max), Frequency, and Monetary value,
    cut at each dimension's MEDIAN into 8 segments with per-segment
    rollups — the marketing-ops classic, built from this repo's exact
    primitives: medians come from the q133 histogram crossing (never a
    sort), cuts compare exact integers against the interpolated median
    (engine-identical on the half-integer grid), and rollups are
    integer sums.

    'R' = recent (<= median days), 'F' = frequent (> median orders),
    'M' = high-value (> median cents); lowercase = the complement."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("long")
        .alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    mx = o.agg(F.max("day").alias("today"))
    cust = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.min(F.col("today") - F.col("day")).alias("recency"),
            F.count("*").alias("frequency"),
            F.sum("cents").alias("monetary"),
        )
    )

    def crossing_median(df, val):
        hist = df.groupBy(val).agg(F.count("*").alias("c"))
        w = Window.orderBy(val).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = hist.select(
            val,
            F.sum("c").over(w).alias("cum"),
            F.sum("c").over(Window.partitionBy()).alias("n"),
        )
        lo = F.floor((F.col("n") + 1) / 2)
        hi = F.floor(F.col("n") / 2 + 1)
        return cum.agg(
            (
                (
                    F.min(F.when(F.col("cum") >= lo, F.col(val)))
                    + F.min(F.when(F.col("cum") >= hi, F.col(val)))
                )
                / 2.0
            ).alias("med")
        )

    mr = crossing_median(cust, "recency").select(F.col("med").alias("mr"))
    mf = crossing_median(cust, "frequency").select(F.col("med").alias("mf"))
    mm = crossing_median(cust, "monetary").select(F.col("med").alias("mm"))
    seg = (
        cust.crossJoin(F.broadcast(mr))
        .crossJoin(F.broadcast(mf))
        .crossJoin(F.broadcast(mm))
        .select(
            F.concat(
                F.when(F.col("recency") <= F.col("mr"), "R").otherwise("r"),
                F.when(F.col("frequency") > F.col("mf"), "F").otherwise("f"),
                F.when(F.col("monetary") > F.col("mm"), "M").otherwise("m"),
            ).alias("segment"),
            "recency",
            "frequency",
            "monetary",
        )
    )
    return seg.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("monetary").cast("long").alias("monetary_cents"),
        F.sum("frequency").cast("long").alias("n_orders"),
        F.sum("recency").cast("long").alias("recency_day_sum"),
    )


@register(
    "q192_kwic_snippets",
    """
    WITH hits AS (SELECT doc_id, text,
                         strpos(lower(text), 'stream') AS pos
                  FROM documents
                  WHERE strpos(lower(text), 'stream') > 0)
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           substr(text, CASE WHEN pos > 20 THEN pos - 20 ELSE 1 END,
                  CASE WHEN pos > 20 THEN 46 ELSE pos + 25 END) AS snippet
    FROM hits
    """,
)
def q192_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context extraction: the first occurrence of a term
    with +-20 characters of surrounding context — the snippet-serving
    step behind every search result page (q59's BM25 ranks documents;
    this renders them).  Pure scan-side string arithmetic
    (instr + substr inside codegen); the clamped window arithmetic is
    written identically on both sides so edge-of-document hits
    cannot produce off-by-one snippets."""
    docs = load_table(spark, sf_dir, "documents")
    pos = F.instr(F.lower(F.col("text")), "stream")
    hits = docs.select("doc_id", "text", pos.alias("pos")).filter(
        F.col("pos") > 0
    )
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.expr(
            "substr(text,"
            " CASE WHEN pos > 20 THEN pos - 20 ELSE 1 END,"
            " CASE WHEN pos > 20 THEN 46 ELSE pos + 25 END)"
        ).alias("snippet"),
    )


@register(
    "q193_custdist",
    """
    WITH co AS (SELECT c.c_custkey,
                       CAST(count(o.o_orderkey) AS BIGINT) AS c_count
                FROM customer c
                LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                                  AND o.o_orderpriority = '1-URGENT'
                GROUP BY c.c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q193_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed
    exactly N urgent orders — the DOUBLE aggregation over a left outer
    join, the one classic shape the inventory lacked.  The priority
    predicate must ride in the JOIN CONDITION (not a WHERE), or the
    zero-order customers — 203 of 1500 at sf0.01, the histogram's
    head bucket — would be silently dropped before the second
    aggregate ever sees them.  First groupBy shuffles by c_custkey
    (the join key, so AQE coalesces into the join exchange); the
    second groups ~30 distinct counts and is a near-free partial
    aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    per_cust = (
        cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@register(
    "q194_promo_revenue_share",
    """
    SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS BIGINT)
             AS ship_month,
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                              * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))
                         ELSE 0 END) AS BIGINT) AS promo_e4,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS total_e4,
           CAST((sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                               * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))
                          ELSE 0 END) * 1000000)
                // sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS promo_ppm
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def q194_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) generalized to every ship month:
    what fraction of revenue came from PROMO parts.  The part dim
    broadcasts (no shuffle on the fact); the conditional and the total
    revenue accumulate in ONE partial-aggregated pass as exact
    1e-4-dollar integers, and the share is emitted as integer-division
    ppm — a case-sum ratio that cannot flip on float accumulation
    order.  Month key is year*100+month, an integer both engines
    derive identically from the same timestamps."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    agg = j.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ship_month")
    ).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", e4).otherwise(F.lit(0)))
        .cast("long")
        .alias("promo_e4"),
        F.sum(e4).cast("long").alias("total_e4"),
    )
    return agg.select(
        "ship_month",
        "promo_e4",
        "total_e4",
        F.expr(
            "CAST((CAST(promo_e4 AS DECIMAL(38,0)) * 1000000)"
            " DIV CAST(total_e4 AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("promo_ppm"),
    )


@register(
    "q195_nation_market_share",
    """
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                         THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                              * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))
                         ELSE 0 END) AS BIGINT) AS nation7_e4,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS total_e4,
           CAST((sum(CASE WHEN sn.n_name = 'NATION_7'
                          THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                               * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))
                          ELSE 0 END) * 1000000)
                // sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS share_ppm
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY 1
    """,
)
def q195_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_7's ppm share of the
    revenue ASIA-region customers generated, per order year.  The
    distinctive shape is TWO independent roles for the nation dim — one
    aliased copy qualifies the customer side (region filter pushed
    into its broadcast), the other labels the supplier side for the
    case-sum.  The fact shuffles once for the orders join; every dim
    (customer included at these SFs) rides broadcast; integer-exact
    e4 revenue and ppm shares as in q194."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier")
    cn = nation.alias("cn")
    sn = nation.alias("sn")
    asia_cust = (
        cust.join(
            F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey")
        )
        .join(
            F.broadcast(region),
            (F.col("cn.n_regionkey") == F.col("r_regionkey"))
            & (F.col("r_name") == "ASIA"),
        )
        .select("c_custkey")
    )
    supp_n = supp.join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey")
    ).select("s_suppkey", F.col("sn.n_name").alias("supp_nation"))
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_n), li["l_suppkey"] == F.col("s_suppkey"))
    )
    agg = j.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_7", e4).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("nation7_e4"),
        F.sum(e4).cast("long").alias("total_e4"),
    )
    return agg.select(
        "order_year",
        "nation7_e4",
        "total_e4",
        F.expr(
            "CAST((CAST(nation7_e4 AS DECIMAL(38,0)) * 1000000)"
            " DIV CAST(total_e4 AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("share_ppm"),
    )


@register(
    "q196_idle_rich_customers",
    """
    WITH c AS (SELECT c_custkey, c_name,
                      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
               FROM customer),
    s AS (SELECT sum(cents) AS s, count(*) AS n FROM c WHERE cents > 0)
    SELECT c.c_custkey, c.c_name, ROUND(c.cents / 100.0, 2) AS acctbal
    FROM c, s
    WHERE c.cents * s.n > s.s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def q196_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers richer than the
    positive-balance average who have never placed an urgent order —
    the GLOBAL scalar subquery + anti join combination (q134's scalar
    is per-group; q91's anti has no scalar).  The 1-row positive-mean
    aggregate broadcasts via crossJoin and the comparison stays exact
    integer algebra (cents*n > sum — no float average exists); the
    anti join's right side prunes to urgent orders at its scan before
    the hash table builds."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey",
        "c_name",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    stats = c.filter(F.col("cents") > 0).agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(F.col("cents") * F.col("n") > F.col("s"))
        .join(urgent, c["c_custkey"] == urgent["o_custkey"], "left_anti")
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("cents") / 100.0, 2).alias("acctbal"),
        )
    )


@register(
    "q197_spearman_rank_corr",
    """
    WITH c AS (SELECT c_custkey, c_nationkey,
                      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
               FROM customer),
    sp AS (SELECT o_custkey,
                  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS spend
           FROM orders GROUP BY 1),
    j AS (SELECT c.c_nationkey AS nk, c.c_custkey, c.bal,
                 COALESCE(sp.spend, 0) AS spend
          FROM c LEFT JOIN sp ON c.c_custkey = sp.o_custkey),
    r AS (SELECT nk,
                 row_number() OVER (PARTITION BY nk
                                    ORDER BY bal, c_custkey) AS rb,
                 row_number() OVER (PARTITION BY nk
                                    ORDER BY spend, c_custkey) AS rs
          FROM j)
    SELECT nk AS nationkey, CAST(count(*) AS BIGINT) AS n,
           CAST(sum((rb - rs) * (rb - rs)) AS BIGINT) AS sum_d2,
           ROUND(1.0 - 6.0 * sum((rb - rs) * (rb - rs))
                       / (count(*) * (count(*) * count(*) - 1.0)), 6) AS rho
    FROM r GROUP BY nk
    """,
)
def q197_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their lifetime spend, per nation — the robust (monotonic, not
    linear) association measure q113's Pearson matrix can't give.
    Ranks are row_numbers with a DETERMINISTIC composite tie-break
    (value, custkey) written identically on both sides, so tied
    balances cannot scramble d² between engines; both rank windows
    share one nation-partitioned exchange (two sorts, one shuffle).
    sum_d2 is exact integer algebra; rho performs the classic
    1 - 6*Σd²/(n(n²-1)) as IEEE ops on exact integers, rounded once.
    Nation cardinality bounds window width at scale — no global
    sort."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c = cust.select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal"),
    )
    sp = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("spend")
    )
    j = (
        c.join(sp, c["c_custkey"] == sp["o_custkey"], "left")
        .select(
            F.col("c_nationkey").alias("nk"),
            "c_custkey",
            "bal",
            F.coalesce(F.col("spend"), F.lit(0)).alias("spend"),
        )
    )
    wb = Window.partitionBy("nk").orderBy("bal", "c_custkey")
    ws = Window.partitionBy("nk").orderBy("spend", "c_custkey")
    r = j.select(
        "nk",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ws).alias("rs"),
    )
    d2 = (F.col("rb") - F.col("rs")) * (F.col("rb") - F.col("rs"))
    return r.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d2).cast("long").alias("sum_d2"),
        F.round(
            F.lit(1.0)
            - F.lit(6.0)
            * F.sum(d2)
            / (F.count("*") * (F.count("*") * F.count("*") - F.lit(1.0))),
            6,
        ).alias("rho"),
    )


@register(
    "q198_gini_order_values",
    """
    WITH o AS (SELECT c.c_nationkey AS nk, o_orderkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders JOIN customer c ON o_custkey = c_custkey),
    r AS (SELECT nk, cents,
                 row_number() OVER (PARTITION BY nk
                                    ORDER BY cents, o_orderkey) AS i
          FROM o),
    a AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
                 sum(cents) AS s, sum(i * cents) AS si
          FROM r GROUP BY nk)
    SELECT nk AS nationkey, n, CAST(s AS BIGINT) AS total_cents,
           CAST(((2 * si - (n + 1) * s) * 1000000) // (n * s) AS BIGINT)
             AS gini_ppm
    FROM a
    """,
)
def q198_gini_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order values per customer nation — the
    standard inequality index (0 = every order equal, ->1 = one order
    carries all revenue), the concentration lens q180's HHI and q190's
    Pareto share don't give.  Uses the sorted-rank identity
    G = (2*Σ(i*x_i) - (n+1)*Σx) / (n*Σx): one nation-partitioned
    rank window (deterministic cents,orderkey tie-break), one partial
    aggregate, and the ratio emitted as integer-division ppm — the
    numerator is provably non-negative for ascending ranks, so floor
    and truncate division agree across engines.  The rank-weighted sum
    Σ(i*x) reaches ~n²·x̄ — past BIGINT at one-tenth TPC-H scale
    already — so the ppm step runs in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB): exact integers throughout, ~1e38 headroom.  No
    global sort; the window is as wide as a nation's orders."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("nk").orderBy("cents", "o_orderkey")
    r = o.select("nk", "cents", F.row_number().over(w).alias("i"))
    a = r.groupBy("nk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("si"),
    )
    return a.select(
        F.col("nk").alias("nationkey"),
        "n",
        F.col("s").cast("long").alias("total_cents"),
        F.expr(
            "CAST(((2 * CAST(si AS DECIMAL(38,0))"
            " - (n + 1) * CAST(s AS DECIMAL(38,0))) * 1000000)"
            " DIV (CAST(n AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "q199_benford_first_digit",
    """
    WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                             AS BIGINT) AS VARCHAR),
                                  1, 1) AS BIGINT) AS digit
               FROM orders WHERE o_totalprice > 0),
    a AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS total FROM a),
    b AS (SELECT digit, n,
                 CAST((n * 1000000) // total AS BIGINT) AS observed_ppm,
                 CAST(CASE digit
                        WHEN 1 THEN 301030 WHEN 2 THEN 176091
                        WHEN 3 THEN 124939 WHEN 4 THEN 96910
                        WHEN 5 THEN 79181 WHEN 6 THEN 66947
                        WHEN 7 THEN 57992 WHEN 8 THEN 51153
                        WHEN 9 THEN 45757 END AS BIGINT) AS expected_ppm
          FROM a, t)
    SELECT digit, n, observed_ppm, expected_ppm,
           observed_ppm - expected_ppm AS dev_ppm
    FROM b
    """,
)
def q199_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen (synthetic uniform prices fail it loudly,
    which is itself the finding on this fixture).  The digit comes
    from the integer-cents STRING head, not floating log10 math; the
    expected distribution is pinned as shared ppm literals on both
    sides (log10 library differences can never flip a row); observed
    shares are integer-division ppm against a broadcast 1-row total.
    One scan, one 9-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    a = d.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    t = a.agg(F.sum("n").alias("total"))
    expected = F.expr(
        "CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091"
        " WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181"
        " WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153"
        " WHEN 9 THEN 45757 END AS BIGINT)"
    )
    b = a.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.expr("CAST((n * 1000000) DIV total AS BIGINT)").alias(
            "observed_ppm"
        ),
        expected.alias("expected_ppm"),
    )
    return b.select(
        "digit",
        "n",
        "observed_ppm",
        "expected_ppm",
        (F.col("observed_ppm") - F.col("expected_ppm")).alias("dev_ppm"),
    )


@register(
    "q200_order_cadence",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
                      o_orderkey
               FROM orders),
    g AS (SELECT c.c_mktsegment AS segment,
                 o.day - lag(o.day) OVER (PARTITION BY o.o_custkey
                                          ORDER BY o.day, o.o_orderkey)
                   AS gap
          FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
    h AS (SELECT segment, gap, CAST(count(*) AS BIGINT) AS cnt
          FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
    cum AS (SELECT segment, gap, cnt,
                   sum(cnt) OVER (PARTITION BY segment ORDER BY gap
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY segment) AS n
            FROM h)
    SELECT segment, CAST(max(n) AS BIGINT) AS n_gaps,
           CAST((min(CASE WHEN 2 * cum >= n + 1 THEN gap END)
                 + min(CASE WHEN 2 * cum >= n + 2 THEN gap END)) / 2.0
                AS DOUBLE) AS median_gap_days,
           CAST(min(CASE WHEN 10 * cum >= 9 * n THEN gap END) AS BIGINT)
             AS p90_gap_days
    FROM cum GROUP BY segment
    """,
)
def q200_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order cadence per market segment: the median and p90 of the
    day-gaps between a customer's consecutive orders — the
    repeat-purchase rhythm behind q80's retention grid.  Gaps come
    from one customer-partitioned lag window; the quantiles are
    value-HISTOGRAM crossings (the q133 recipe): groupBy (segment,
    gap) bounds state by distinct gap lengths, a cumulative window
    walks each segment's histogram, the median interpolates ranks
    floor((n+1)/2)/floor(n/2)+1 (written as the 2*cum >= n+1 / n+2
    crossings) and p90 is the smallest gap with cum >= ceil(0.9n)
    (10*cum >= 9n in pure integers).  No per-group value buffering
    anywhere."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.select(
        "o_custkey",
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
        "o_orderkey",
    )
    wlag = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    g = (
        o.withColumn("gap", F.col("day") - F.lag("day").over(wlag))
        .filter(F.col("gap").isNotNull())
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "gap")
    )
    h = g.groupBy("segment", "gap").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "segment",
        "gap",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("segment")).alias("n"),
    )
    return cum.groupBy("segment").agg(
        F.max("n").cast("long").alias("n_gaps"),
        (
            (
                F.min(F.when(2 * F.col("cum") >= F.col("n") + 1, F.col("gap")))
                + F.min(
                    F.when(2 * F.col("cum") >= F.col("n") + 2, F.col("gap"))
                )
            )
            / 2.0
        )
        .cast("double")
        .alias("median_gap_days"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("gap")))
        .cast("long")
        .alias("p90_gap_days"),
    )


@register(
    "q201_hapax_ttr",
    """
    WITH tok AS (SELECT source,
                        unnest(string_split_regex(lower(text), '\\s+')) AS w
                 FROM documents),
    tc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE w <> '' GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((count(*) * 1000000) // sum(c) AS BIGINT) AS ttr_ppm,
           CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS hapax_ppm
    FROM tc GROUP BY source
    """,
)
def q201_hapax_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: type-token ratio and the
    hapax-legomena share (words seen exactly once) — the corpus-health
    numbers a training-mix curator reads before weighting sources (a
    crashed TTR means boilerplate/dup floods; an inflated hapax share
    means OCR noise or tokenizer breakage).  One tokenize scan (the
    same q12/q21 whitespace contract), one (source, word) partial
    aggregate whose state is vocabulary-sized, then a per-source
    rollup; shares are integer-division ppm."""
    from .functions.textfn import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("w")
    )
    tc = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    return tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.expr("CAST((count(*) * 1000000) DIV sum(c) AS BIGINT)").alias(
            "ttr_ppm"
        ),
        F.expr(
            "CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)"
            " DIV count(*) AS BIGINT)"
        ).alias("hapax_ppm"),
    )


@register(
    "q202_zipf_rank_freq",
    """
    WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
                 FROM documents),
    tc AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
           FROM tok WHERE w <> '' GROUP BY w),
    top AS (SELECT w, freq FROM tc ORDER BY freq DESC, w LIMIT 50)
    SELECT CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank,
           w AS term, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, w) * freq AS BIGINT)
             AS rank_x_freq
    FROM top
    """,
)
def q202_zipf_rank_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head inspection: the 50 most frequent terms with their
    rank*frequency product — constant under Zipf's law, so a glance at
    the last column says whether this corpus has a natural frequency
    profile or a synthetic/flattened one.  The vocabulary aggregate is
    the only corpus-sized state; the top-50 cut is TakeOrdered
    (count desc, term tie-break), and the rank window runs over 50
    surviving rows — never the vocabulary."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    from .functions.textfn import tokenize

    tc = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    top = tc.orderBy(F.col("freq").desc(), "w").limit(50)
    wr = Window.orderBy(F.col("freq").desc(), "w")
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        F.col("w").alias("term"),
        "freq",
        (F.row_number().over(wr) * F.col("freq"))
        .cast("long")
        .alias("rank_x_freq"),
    )


def _kcore_peel_sql(rounds: int) -> str:
    """Unrolled k=2 peeling oracle (the kmeans/pagerank fixed-round
    contract: converged rounds are no-ops — sf0.01 converges in 4,
    pinned in tests/test_kcore.py)."""
    sql = """
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
                             FROM lineitem),
    e0 AS MATERIALIZED (SELECT a.l_partkey AS x, b.l_partkey AS y
           FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)"""
    for i in range(1, rounds + 1):
        sql += f""",
    v{i} AS MATERIALIZED (SELECT v FROM (SELECT x AS v FROM e{i - 1}
                            UNION ALL SELECT y FROM e{i - 1}) t
             GROUP BY v HAVING count(*) >= 2),
    e{i} AS MATERIALIZED (SELECT e.x, e.y FROM e{i - 1} e
             WHERE e.x IN (SELECT v FROM v{i})
               AND e.y IN (SELECT v FROM v{i}))"""
    sql += f"""
    SELECT v AS part, CAST(count(*) AS BIGINT) AS core_degree
    FROM (SELECT x AS v FROM e{rounds} UNION ALL SELECT y FROM e{rounds}) t
    GROUP BY v"""
    return sql


@register("q203_kcore_parts", _kcore_peel_sql(6))
def q203_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-purchase part graph (q128's edge contract:
    parts co-ordered at least twice): iteratively strip every part
    with fewer than 2 surviving co-purchase partners, leaving the
    dense backbone worth running triangle/community mining on — the
    standard pre-filter that removes the degree-1 tail BEFORE the
    quadratic algorithms pay for it.  Six peel rounds are the declared
    semantics (converges in 4 at sf0.01; extra rounds are no-ops —
    the fixed-round oracle contract of q98/q106); each round is one
    degree aggregate + two hash semi joins via
    :func:`operators.graph.kcore`, with the CC loop's lineage-cut
    levers for deep peels at scale."""
    from .operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= 2)
        .select("x", "y")
    )
    core = kcore(edges, k=2, rounds=6, src_col="x", dst_col="y")
    return core.select(F.col("v").alias("part"), "core_degree")


@register(
    "q204_fk_discovery",
    """
    WITH pairs AS (
      SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_child_keys,
             CAST(count(DISTINCT CASE WHEN o.o_orderkey IS NOT NULL
                                      THEN l_orderkey END) AS BIGINT)
               AS n_contained
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part.p_partkey',
             CAST(count(DISTINCT l_partkey) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN p.p_partkey IS NOT NULL
                                      THEN l_partkey END) AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
             CAST(count(DISTINCT l_suppkey) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN s.s_suppkey IS NOT NULL
                                      THEN l_suppkey END) AS BIGINT)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey->customer.c_custkey',
             CAST(count(DISTINCT o_custkey) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN c.c_custkey IS NOT NULL
                                      THEN o_custkey END) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'events.user_id->customer.c_custkey',
             CAST(count(DISTINCT user_id) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN c.c_custkey IS NOT NULL
                                      THEN user_id END) AS BIGINT)
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey)
    SELECT fk, n_child_keys, n_contained,
           CAST((n_contained * 1000000) // n_child_keys AS BIGINT)
             AS containment_ppm
    FROM pairs
    """,
)
def q204_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key DISCOVERY audit: for each candidate child->parent
    column pair, how much of the child's key set the parent actually
    contains (1e6 ppm = a clean FK, less = orphans or a wrong guess) —
    the schema-inference pass a lakehouse runs over undocumented
    parquet drops before it dares to join them.  Each pair is one
    distinct-count over a broadcast outer join against the parent's
    key column (the child side is the only big scan); five bounded
    1-row results union at the driver-free plan level.  q107 assumes
    the FKs and counts violations; this EARNS the assumption."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")

    def containment(child, ccol, parent, pcol, label):
        j = child.select(ccol).join(
            F.broadcast(parent.select(pcol)),
            F.col(ccol) == F.col(pcol),
            "left",
        )
        return j.agg(
            F.lit(label).alias("fk"),
            F.countDistinct(ccol).cast("long").alias("n_child_keys"),
            F.countDistinct(
                F.when(F.col(pcol).isNotNull(), F.col(ccol))
            )
            .cast("long")
            .alias("n_contained"),
        )

    pairs = (
        containment(li, "l_orderkey", orders, "o_orderkey",
                    "lineitem.l_orderkey->orders.o_orderkey")
        .unionByName(containment(li, "l_partkey", part, "p_partkey",
                                 "lineitem.l_partkey->part.p_partkey"))
        .unionByName(containment(li, "l_suppkey", supp, "s_suppkey",
                                 "lineitem.l_suppkey->supplier.s_suppkey"))
        .unionByName(containment(orders, "o_custkey", cust, "c_custkey",
                                 "orders.o_custkey->customer.c_custkey"))
        .unionByName(containment(events, "user_id", cust, "c_custkey",
                                 "events.user_id->customer.c_custkey"))
    )
    return pairs.select(
        "fk",
        "n_child_keys",
        "n_contained",
        F.expr(
            "CAST((n_contained * 1000000) DIV n_child_keys AS BIGINT)"
        ).alias("containment_ppm"),
    )


@register(
    "q205_fd_audit",
    """
    WITH fds AS (
      SELECT 'nation.n_nationkey->n_regionkey' AS fd,
             CAST(count(*) AS BIGINT) AS n_determinants,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(nd) AS BIGINT) AS max_dependents
      FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS nd
            FROM nation GROUP BY 1) t
      UNION ALL
      SELECT 'part.p_brand->p_type',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(max(nd) AS BIGINT)
      FROM (SELECT p_brand, count(DISTINCT p_type) AS nd
            FROM part GROUP BY 1) t
      UNION ALL
      SELECT 'documents.source->lang',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(max(nd) AS BIGINT)
      FROM (SELECT source, count(DISTINCT lang) AS nd
            FROM documents GROUP BY 1) t
      UNION ALL
      SELECT 'orders.o_custkey->o_orderpriority',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(max(nd) AS BIGINT)
      FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
            FROM orders GROUP BY 1) t)
    SELECT fd, n_determinants, n_violating, max_dependents,
           CASE WHEN n_violating = 0 THEN 'holds' ELSE 'violated' END
             AS verdict
    FROM fds
    """,
)
def q205_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: does column A determine column B?
    Four candidate FDs spanning holds-exactly (nation key -> region)
    and obviously-violated (customer -> order priority) — the
    profiling pass that discovers which columns are safe to
    denormalize or use as partition keys.  Each FD is one
    distinct-count groupBy on the determinant (partial-aggregated,
    state bounded by |determinant values|) rolled into a 1-row
    verdict; no joins at all."""
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")

    def fd(df, det, dep, label):
        per = df.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        return per.agg(
            F.lit(label).alias("fd"),
            F.count("*").cast("long").alias("n_determinants"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.max("nd").cast("long").alias("max_dependents"),
        )

    fds = (
        fd(nation, "n_nationkey", "n_regionkey",
           "nation.n_nationkey->n_regionkey")
        .unionByName(fd(part, "p_brand", "p_type", "part.p_brand->p_type"))
        .unionByName(fd(docs, "source", "lang", "documents.source->lang"))
        .unionByName(fd(orders, "o_custkey", "o_orderpriority",
                        "orders.o_custkey->o_orderpriority"))
    )
    return fds.select(
        "fd",
        "n_determinants",
        "n_violating",
        "max_dependents",
        F.when(F.col("n_violating") == 0, "holds")
        .otherwise("violated")
        .alias("verdict"),
    )


@register(
    "q206_user_event_entropy",
    """
    WITH c AS (SELECT user_id, event_type,
                      CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(c) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           ROUND(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy_nats
    FROM c GROUP BY user_id
    """,
)
def q206_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy of their event
    -type mix (0 = monotone bot doing one thing, ln(5) = uniform over
    all five types) — the engagement-quality signal a feed ranker or
    bot-filter reads.  Uses the aggregation-friendly identity
    H = ln(n) - Σc·ln(c)/n so ONE (user, type) partial aggregate and
    one per-user rollup produce it with no ratios materialized;
    ln on exact integer counts + a single 6dp round is the q156/q68
    cross-engine float contract."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    return c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
            6,
        ).alias("entropy_nats"),
    )


@register(
    "q207_cusum_changepoint",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
               FROM orders GROUP BY 1),
    t AS (SELECT sum(cents) AS tot, count(*) AS nd FROM d),
    c AS (SELECT day, cents,
                 sum(cents) OVER (ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                 row_number() OVER (ORDER BY day) AS i
          FROM d)
    SELECT c.day, CAST(c.cents AS BIGINT) AS day_cents,
           CAST(c.cum * t.nd - c.i * t.tot AS BIGINT) AS cusum_x_n
    FROM c, t
    ORDER BY abs(c.cum * t.nd - c.i * t.tot) DESC, c.day
    LIMIT 5
    """,
)
def q207_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen on the daily-revenue series: the five
    days where the cumulative deviation from the global mean peaks —
    where the level SHIFTED, which q123's rolling z-score (local
    spikes) structurally cannot see.  All algebra is integer-exact:
    the running sum is scaled by n_days (cum*N - i*total is N× the
    classic CUSUM) so no float mean ever exists, and the top-5 cut is
    TakeOrdered with a (|cusum| desc, day) tie-break.  The window
    runs over the DAILY aggregate — bounded by the calendar, not the
    order count — the same justification as q122's spine."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    t = d.agg(F.sum("cents").alias("tot"), F.count("*").alias("nd"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("cum"),
        F.row_number().over(Window.orderBy("day")).alias("i"),
    )
    scored = c.crossJoin(F.broadcast(t)).select(
        "day",
        F.col("cents").cast("long").alias("day_cents"),
        (
            F.col("cum").cast("decimal(38,0)") * F.col("nd")
            - F.col("i") * F.col("tot").cast("decimal(38,0)")
        )
        .cast("long")
        .alias("cusum_x_n"),
    )
    return scored.orderBy(
        F.abs(F.col("cusum_x_n")).desc(), "day"
    ).limit(5)


@register(
    "q208_itemset_triples",
    """
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
                             FROM lineitem)
    SELECT a.l_partkey AS x, b.l_partkey AS y, c.l_partkey AS z,
           CAST(count(*) AS BIGINT) AS support
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    JOIN op c ON b.l_orderkey = c.l_orderkey
             AND b.l_partkey < c.l_partkey
    GROUP BY 1, 2, 3 HAVING count(*) >= 2
    """,
)
def q208_itemset_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets (parts co-ordered in >= 2 orders) — the
    next apriori level above q129's pairs.  The Spark plan prunes
    candidate triples with the frequent-PAIR set before counting:
    downward closure says support(x,y,z) >= 2 forces every pair >= 2,
    so broadcast-semi-joining (x,y) and (y,z) against the 3.4k
    frequent pairs is LOSSLESS while cutting the candidate explosion
    — the 100 TB posture where raw triple expansion is Σ|basket|³.
    The oracle counts directly (same result by closure); support
    ties carry the full (x,y,z) key for determinism."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b, c = op.alias("a"), op.alias("b"), op.alias("c")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("px"), F.col("b.l_partkey").alias("py")
        )
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= 2)
        .select("px", "py")
    )
    triples = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("b.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
            F.col("c.l_partkey").alias("z"),
        )
    )
    pruned = (
        triples.join(
            F.broadcast(pairs),
            (F.col("x") == F.col("px")) & (F.col("y") == F.col("py")),
            "left_semi",
        )
        .join(
            F.broadcast(pairs),
            (F.col("y") == F.col("px")) & (F.col("z") == F.col("py")),
            "left_semi",
        )
    )
    return pruned.groupBy("x", "y", "z").agg(
        F.count("*").cast("long").alias("support")
    ).filter(F.col("support") >= 2)


@register(
    "q209_stickiness",
    """
    WITH du AS (SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
                       CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                       count(DISTINCT user_id) AS dau
                FROM events GROUP BY 1, 2),
    wu AS (SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
                  count(DISTINCT user_id) AS wau
           FROM events GROUP BY 1)
    SELECT du.week,
           CAST(sum(du.dau) AS BIGINT) AS dau_sum,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(wu.wau) AS BIGINT) AS wau,
           CAST((sum(du.dau) * 1000000) // (count(*) * max(wu.wau))
                AS BIGINT) AS stickiness_ppm
    FROM du JOIN wu ON du.week = wu.week
    GROUP BY du.week
    """,
)
def q209_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per epoch week — avg daily actives over the
    week's actives, THE product-engagement ratio — as integer ppm of
    dau_sum/(days*wau).  Week = floor(epoch/604800): pure integer
    bucketing both engines derive identically (the fixture spans one
    calendar month, so ISO months would collapse to a single row).
    Two exact distinct-count aggregates (day grain and week grain; one
    scan cannot produce both without exploding) joined on week; at
    100 TB swap the exact distincts for q154's bitmap words (bit_or
    merges make the day->week rollup one popcount instead of a second
    scan)."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp(F.col("ts")) / 604800).cast("long").alias(
        "week"
    )
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long").alias(
        "day"
    )
    du = ev.groupBy(week, day).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wu = ev.groupBy(week).agg(F.countDistinct("user_id").alias("wau"))
    j = du.join(wu, "week")
    return j.groupBy("week").agg(
        F.sum("dau").cast("long").alias("dau_sum"),
        F.count("*").cast("long").alias("n_days"),
        F.max("wau").cast("long").alias("wau"),
        F.expr(
            "CAST((sum(dau) * 1000000) DIV (count(*) * max(wau)) AS BIGINT)"
        ).alias("stickiness_ppm"),
    )


@register(
    "q210_trade_flows",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_9')
       OR (sn.n_name = 'NATION_9' AND cn.n_name = 'NATION_7')
    GROUP BY 1, 2, 3
    """,
)
def q210_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two nations
    per ship year, keeping the two directions separate — the
    NATION-PAIR disjunction that q195's one-sided market share
    doesn't exercise.  Catalyst pushes each side of the OR into the
    two broadcast nation dims (only pair members survive the dim
    scans), the supplier/customer joins then act as semi-filters on
    the fact, and revenue aggregates as exact e4 integers.  One fact
    shuffle for the orders join; everything else broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cn = nation.alias("cn")
    sn = nation.alias("sn")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey")
        )
        .join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .join(
            F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey")
        )
        .filter(
            (
                (F.col("sn.n_name") == "NATION_7")
                & (F.col("cn.n_name") == "NATION_9")
            )
            | (
                (F.col("sn.n_name") == "NATION_9")
                & (F.col("cn.n_name") == "NATION_7")
            )
        )
    )
    return j.groupBy(
        F.col("sn.n_name").alias("supp_nation"),
        F.col("cn.n_name").alias("cust_nation"),
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(F.sum(e4).cast("long").alias("revenue_e4"))


@register(
    "q211_supplier_rank_profile",
    """
    SELECT s_nationkey AS nationkey, s_suppkey,
           CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey
                 ORDER BY floor(s_acctbal * 100 + 0.5), s_suppkey)
    """,
)
def q211_supplier_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function breadth in one pass: ntile quartiles,
    percent_rank, and cume_dist of supplier balances within each
    nation — the remaining ANSI window functions without a dedicated
    green entry (row_number/rank/lag/lead are exercised throughout).
    One nation-partitioned sort serves all three (named WINDOW
    clause); the (cents, suppkey) composite order makes every rank
    deterministic under tied balances.  Ratios are the engines' own
    percent_rank/cume_dist doubles on identical orderings, rounded
    once."""
    supp = load_table(spark, sf_dir, "supplier")
    return spark.sql(
        """
        SELECT s_nationkey AS nationkey, s_suppkey,
               CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               ROUND(percent_rank() OVER w, 6) AS pct_rank,
               ROUND(cume_dist() OVER w, 6) AS cume
        FROM {supp}
        WINDOW w AS (PARTITION BY s_nationkey
                     ORDER BY floor(s_acctbal * 100 + 0.5), s_suppkey)
        """,
        supp=supp,
    )


@register(
    "q212_lateral_topn",
    """
    SELECT c.c_custkey, t.o_orderkey,
           CAST(floor(t.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    """,
)
def q212_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL front door: each
    AUTOMOBILE customer's two largest orders, written as the
    for-each-row derived table users migrate from Postgres with —
    and DECORRELATED by Catalyst into the window top-k (q25's shape)
    instead of per-row re-execution, which is the only form that
    scales.  Deterministic (price desc, orderkey) cut; the segment
    filter pushes to the customer scan before the join."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey,
               CAST(floor(t.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_mktsegment = 'AUTOMOBILE'
        """
    )


@register(
    "q213_ols_two_features",
    """
    WITH per AS (SELECT o.o_orderkey,
                        CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y,
                        CAST(count(*) AS BIGINT) AS x1,
                        CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT))
                             AS BIGINT) AS x2
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                 GROUP BY o.o_orderkey, o.o_totalprice),
    s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x1) AS HUGEINT) AS s1,
                 CAST(sum(x2) AS HUGEINT) AS s2,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x1 * x1) AS HUGEINT) AS s11,
                 CAST(sum(x1 * x2) AS HUGEINT) AS s12,
                 CAST(sum(x2 * x2) AS HUGEINT) AS s22,
                 CAST(sum(x1 * y) AS HUGEINT) AS s1y,
                 CAST(sum(x2 * y) AS HUGEINT) AS s2y
          FROM per),
    d AS (SELECT n, s1, s2, sy, s11, s12, s22, s1y, s2y,
                 n * (s11 * s22 - s12 * s12)
                 - s1 * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s12 - s11 * s2) AS det,
                 sy * (s11 * s22 - s12 * s12)
                 - s1 * (s1y * s22 - s12 * s2y)
                 + s2 * (s1y * s12 - s11 * s2y) AS det0,
                 n * (s1y * s22 - s12 * s2y)
                 - sy * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s2y - s1y * s2) AS det1,
                 n * (s11 * s2y - s1y * s12)
                 - s1 * (s1 * s2y - s1y * s2)
                 + sy * (s1 * s12 - s11 * s2) AS det2
          FROM s)
    SELECT CAST(n AS BIGINT) AS n_orders,
           ROUND(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta0,
           ROUND(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta1,
           ROUND(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta2
    FROM d
    """,
)
def q213_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS in closed form: order value regressed on line
    count and total quantity, solved by Cramer's rule over the 3x3
    normal equations — multivariate regression as PURE AGGREGATION
    (q167 is the single-feature per-group version).  The nine moment
    sums are exact integers; the four 3x3 determinants evaluate in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so no product ever
    rounds (triple products graze past int64); only the final
    coefficient ratios touch doubles — two correctly-rounded casts,
    one divide, one round, identical on both engines.  One fact scan,
    one per-order partial aggregate, a 1-row reduce: the shape that
    fits any scale."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count("*").cast("long").alias("x1"),
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("x2"),
        )
        .select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
            "x1",
            "x2",
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = per.agg(
        dec(F.count("*")).alias("n"),
        dec(F.sum("x1")).alias("s1"),
        dec(F.sum("x2")).alias("s2"),
        dec(F.sum("y")).alias("sy"),
        dec(F.sum(F.col("x1") * F.col("x1"))).alias("s11"),
        dec(F.sum(F.col("x1") * F.col("x2"))).alias("s12"),
        dec(F.sum(F.col("x2") * F.col("x2"))).alias("s22"),
        dec(F.sum(F.col("x1") * F.col("y"))).alias("s1y"),
        dec(F.sum(F.col("x2") * F.col("y"))).alias("s2y"),
    )
    d = s.selectExpr(
        "n",
        "n * (s11 * s22 - s12 * s12)"
        " - s1 * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s12 - s11 * s2) AS det",
        "sy * (s11 * s22 - s12 * s12)"
        " - s1 * (s1y * s22 - s12 * s2y)"
        " + s2 * (s1y * s12 - s11 * s2y) AS det0",
        "n * (s1y * s22 - s12 * s2y)"
        " - sy * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s2y - s1y * s2) AS det1",
        "n * (s11 * s2y - s1y * s12)"
        " - s1 * (s1 * s2y - s1y * s2)"
        " + sy * (s1 * s12 - s11 * s2) AS det2",
    )
    return d.selectExpr(
        "CAST(n AS BIGINT) AS n_orders",
        "ROUND(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta0",
        "ROUND(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta1",
        "ROUND(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta2",
    )


@register(
    "q214_weighted_median_price",
    """
    WITH h AS (SELECT l_returnflag AS flag,
                      CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                      sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS w
               FROM lineitem GROUP BY 1, 2),
    c AS (SELECT flag, cents, w,
                 sum(w) OVER (PARTITION BY flag ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cumw,
                 sum(w) OVER (PARTITION BY flag) AS tw
          FROM h)
    SELECT flag, CAST(max(tw) AS BIGINT) AS total_qty,
           CAST(min(CASE WHEN 2 * cumw >= tw THEN cents END) AS BIGINT)
             AS wmedian_cents
    FROM c GROUP BY flag
    """,
)
def q214_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-weighted median price per return flag — the
    'median dollar' (half the shipped units cost less than this), a
    different animal from q133's row-median when cheap items ship in
    bulk.  Same histogram-crossing machinery as q133/q200 but the
    cumulative walks WEIGHT, not count: groupBy (flag, price) sums
    quantities, the crossing is the smallest price whose cumulative
    weight reaches half the total (lower weighted median — exact
    integers end to end, no interpolation ambiguity between
    engines)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    h = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).agg(F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")).alias("w"))
    wc = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = h.select(
        "flag",
        "cents",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    return c.groupBy("flag").agg(
        F.max("tw").cast("long").alias("total_qty"),
        F.min(F.when(2 * F.col("cumw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("wmedian_cents"),
    )


@register(
    "q215_bounce_rate",
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(epoch_us(ts) AS BIGINT) AS us
               FROM events),
    m AS (SELECT user_id, event_id, event_type, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, event_type, us, event_id,
                 sum(is_new) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS session_id
          FROM m),
    ranked AS (SELECT user_id, session_id, event_type,
                      row_number() OVER (PARTITION BY user_id, session_id
                                         ORDER BY us, event_id) AS rn
               FROM s),
    sz AS (SELECT user_id, session_id, count(*) AS n_events
           FROM s GROUP BY 1, 2),
    per AS (SELECT r.event_type AS entry_type, z.n_events
            FROM ranked r JOIN sz z USING (user_id, session_id)
            WHERE r.rn = 1)
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounced,
           CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000)
                // count(*) AS BIGINT) AS bounce_permille
    FROM per GROUP BY entry_type
    """,
)
def q215_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: the share of 30-minute-gap
    sessions that die after ONE event, split by what the session
    opened with — the landing-quality number next to q132's
    conversion attribution (same gap contract, same deterministic
    (ts, event_id) session ordering, so the two reports reconcile
    row-for-row).  One user-partitioned window chain builds sessions,
    one per-session aggregate, one 5-row rollup; rates in integer
    permille."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = base.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn("session_id", F.sum("is_new").over(w))
    per = sess.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", F.struct("us", "event_id")).alias(
            "entry_type"
        ),
        F.count("*").alias("n_events"),
    )
    return per.groupBy("entry_type").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounced"),
        F.expr(
            "CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000)"
            " DIV count(*) AS BIGINT)"
        ).alias("bounce_permille"),
    )


@register(
    "q216_simpson_diversity",
    """
    WITH tc AS (SELECT source, unnest(string_split_regex(lower(text),
                                                         '\\s+')) AS w
                FROM documents),
    c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
          FROM tc WHERE w <> '' GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST((CAST(sum(c * (c - 1)) AS HUGEINT) * 1000000)
                // (CAST(sum(c) AS HUGEINT) * (sum(c) - 1)) AS BIGINT)
             AS simpson_ppm
    FROM c GROUP BY source
    """,
)
def q216_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration per source — the probability two random
    tokens coincide, Σc(c-1)/(n(n-1)) — the NO-LOG companion to
    q206's entropy: being pure integer algebra it needs no float
    contract at all, just a DECIMAL/HUGEINT promotion because
    Σc(c-1) squares token counts (the q198 overflow lesson applied
    at birth).  Same (source, word) aggregate as q201 — at 100 TB
    these three lexical audits share one materialized count table."""
    from .functions.textfn import tokenize

    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    return c.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((CAST(sum(c * (c - 1)) AS DECIMAL(38,0)) * 1000000)"
            " DIV (CAST(sum(c) AS DECIMAL(38,0)) * (sum(c) - 1)) AS BIGINT)"
        ).alias("simpson_ppm"),
    )


@register(
    "q217_behavior_cohorts",
    """
    WITH m AS (SELECT user_id,
                      bit_or(CASE event_type
                               WHEN 'view' THEN 1 WHEN 'click' THEN 2
                               WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                               WHEN 'error' THEN 16 ELSE 0 END) AS mask
               FROM events WHERE ts < TIMESTAMP '2024-01-03'
               GROUP BY user_id)
    SELECT CAST(mask AS BIGINT) AS mask,
           CAST(count(*) AS BIGINT) AS n_users,
           CASE WHEN mask & 4 > 0 THEN 'buyer'
                WHEN mask & 2 > 0 THEN 'engaged'
                ELSE 'visitor' END AS tier
    FROM m GROUP BY mask
    """,
)
def q217_behavior_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral cohorts as BITMASKS: each user's event-type
    footprint packs into 5 bits with one bit_or aggregate, and the
    cohort census is a groupBy over at most 32 masks — the
    set-algebra way to answer 'clicked but never purchased' without
    one self-join per predicate (each such cohort is now a bit test
    on a 32-row result).  The same trick q154/q171 use for distinct
    counting, here applied to segment membership.  Scoped to the
    first two fixture days (over the full month every user reaches
    mask 31 and the census collapses to one row); the ts predicate
    pushes to the scan."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < "2024-01-03"
    )
    flag = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "error", 16)
        .otherwise(0)
    )
    m = ev.groupBy("user_id").agg(
        F.expr(
            "bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2"
            " WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8"
            " WHEN 'error' THEN 16 ELSE 0 END)"
        ).alias("mask")
    )
    _ = flag  # documented inline above; SQL expr keeps both engines identical
    return m.groupBy("mask").agg(
        F.count("*").cast("long").alias("n_users"),
    ).select(
        F.col("mask").cast("long").alias("mask"),
        "n_users",
        F.when(F.expr("mask & 4 > 0"), "buyer")
        .when(F.expr("mask & 2 > 0"), "engaged")
        .otherwise("visitor")
        .alias("tier"),
    )


@register(
    "q218_column_skew_profile",
    """
    WITH cols AS (
      SELECT 'l_returnflag' AS col, CAST(l_returnflag AS VARCHAR) AS val
      FROM lineitem
      UNION ALL
      SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'l_quantity',
             CAST(CAST(floor(l_quantity + 0.5) AS BIGINT) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem),
    vc AS (SELECT col, val, CAST(count(*) AS BIGINT) AS c
           FROM cols GROUP BY 1, 2),
    top AS (SELECT col,
                   CAST(sum(c) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(max(c) AS BIGINT) AS top_count,
                   min(CASE WHEN c = mx THEN val END) AS top_value
            FROM (SELECT col, val, c, max(c) OVER (PARTITION BY col) AS mx
                  FROM vc) t
            GROUP BY col)
    SELECT col, n_rows, n_distinct, top_value, top_count,
           CAST((top_count * 1000000) // n_rows AS BIGINT) AS top_share_ppm
    FROM top
    """,
)
def q218_column_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column SKEW profile of the fact table: distinct count, the
    modal value, and its ppm share of rows — the number that decides
    whether a key needs q75/q82's salting BEFORE the job hits the hot
    partition (l_returnflag at ~50% share is exactly the
    shuffle-killer; l_partkey at ppm scale is safe) — completing the
    profiling trio with q204 (FKs) and q205 (FDs).  One unpivoted
    scan pass, one (col, val) partial aggregate whose state is the
    union of the columns' cardinalities, a per-column max window over
    the aggregate, and a deterministic min() tie-break on the modal
    value."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    cols = li.selectExpr(
        """stack(5,
           'l_returnflag', CAST(l_returnflag AS STRING),
           'l_linestatus', CAST(l_linestatus AS STRING),
           'l_quantity', CAST(CAST(floor(l_quantity + 0.5) AS BIGINT) AS STRING),
           'l_suppkey', CAST(l_suppkey AS STRING),
           'l_partkey', CAST(l_partkey AS STRING)) AS (col, val)"""
    )
    vc = cols.groupBy("col", "val").agg(F.count("*").alias("c"))
    mx = vc.withColumn("mx", F.max("c").over(Window.partitionBy("col")))
    top = mx.groupBy("col").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_count"),
        F.min(F.when(F.col("c") == F.col("mx"), F.col("val"))).alias(
            "top_value"
        ),
    )
    return top.select(
        "col",
        "n_rows",
        "n_distinct",
        "top_value",
        "top_count",
        F.expr("CAST((top_count * 1000000) DIV n_rows AS BIGINT)").alias(
            "top_share_ppm"
        ),
    )


@register(
    "q219_seasonal_decomposition",
    """
    WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                           AS BIGINT) AS month,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
               FROM orders GROUP BY 1),
    w AS (SELECT month, cents,
                 row_number() OVER (ORDER BY month) AS i,
                 count(*) OVER () AS n,
                 lag(cents, 6) OVER (ORDER BY month)
                   + lead(cents, 6) OVER (ORDER BY month)
                   + 2 * (sum(cents) OVER (ORDER BY month
                                           ROWS BETWEEN 5 PRECEDING
                                           AND 5 FOLLOWING)) AS trend_x24
          FROM m)
    SELECT month, CAST(cents AS BIGINT) AS rev_cents,
           CAST(trend_x24 AS BIGINT) AS trend_x24,
           CAST(24 * cents - trend_x24 AS BIGINT) AS detrended_x24
    FROM w WHERE i > 6 AND i <= n - 6
    """,
)
def q219_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition, step 1: the centered 12-month
    moving-average trend and the detrended residual of monthly
    revenue — kept as INTEGER x24 multiples (the centered MA's
    half-weights at t±6 make 24 the exact common denominator), so the
    decomposition is bit-exact and re-additive: rev*24 = trend_x24 +
    detrended_x24 by construction.  The window runs over the ~80-row
    MONTHLY aggregate (calendar-bounded, like q207); edge months
    without a full ±6 neighborhood are excluded by rank, not by
    nullness, so both engines drop identical rows."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    wo = Window.orderBy("month")
    wsum = wo.rowsBetween(-5, 5)
    w = m.select(
        "month",
        "cents",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(
            Window.orderBy("month").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
        (
            F.lag("cents", 6).over(wo)
            + F.lead("cents", 6).over(wo)
            + 2 * F.sum("cents").over(wsum)
        ).alias("trend_x24"),
    )
    return w.filter((F.col("i") > 6) & (F.col("i") <= F.col("n") - 6)).select(
        "month",
        F.col("cents").cast("long").alias("rev_cents"),
        F.col("trend_x24").cast("long").alias("trend_x24"),
        (24 * F.col("cents") - F.col("trend_x24"))
        .cast("long")
        .alias("detrended_x24"),
    )


def _ewma_terms() -> tuple[str, str]:
    """The 20-term dyadic EWMA as SQL text shared verbatim by both
    engines: numerator Σ lag_k * 2^(19-k), denominator Σ 2^(19-k)
    over the lags that exist (so early days renormalize instead of
    leaking zeros into the average)."""
    num = " + ".join(
        f"coalesce(lag(cents, {k}) OVER w, 0) * {2 ** (19 - k)}"
        for k in range(20)
    )
    den = " + ".join(
        f"(CASE WHEN lag(cents, {k}) OVER w IS NULL"
        f" THEN 0 ELSE {2 ** (19 - k)} END)"
        for k in range(20)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_terms()


@register(
    "q220_ewma_revenue",
    f"""
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
               FROM orders GROUP BY 1),
    e AS (SELECT day, cents,
                 {_EWMA_NUM} AS num,
                 {_EWMA_DEN} AS den
          FROM d WINDOW w AS (ORDER BY day))
    SELECT day, CAST(cents AS BIGINT) AS day_cents,
           CAST(num AS BIGINT) AS ewma_num,
           CAST(den AS BIGINT) AS ewma_den,
           CAST(num // den AS BIGINT) AS ewma_cents
    FROM e
    """,
)
def q220_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with a
    DYADIC decay (alpha = 1/2, truncated at 20 taps, < 1e-6 tail) —
    the trend smoother whose recursive definition looks
    window-hostile, made exact by power-of-two weights: numerator and
    denominator are pure integers (2^19 * cents fits long with 1e4x
    headroom), the emitted average is their integer quotient, and the
    leading edge renormalizes over the taps that exist instead of
    decaying from a fake zero history.  One window over the daily
    aggregate; the 20 lag taps share a single sort, and the
    generated SQL text is fed to BOTH engines so the tap structure
    cannot drift."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    d.createOrReplaceTempView("_ewma_daily")
    return spark.sql(
        f"""
        SELECT day, CAST(cents AS BIGINT) AS day_cents,
               CAST(num AS BIGINT) AS ewma_num,
               CAST(den AS BIGINT) AS ewma_den,
               CAST(num DIV den AS BIGINT) AS ewma_cents
        FROM (SELECT day, cents, {_EWMA_NUM} AS num, {_EWMA_DEN} AS den
              FROM _ewma_daily WINDOW w AS (ORDER BY day))
        """
    )


@register(
    "q221_seasonal_index",
    """
    WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                           AS BIGINT) AS month,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
               FROM orders GROUP BY 1),
    w AS (SELECT month, cents,
                 row_number() OVER (ORDER BY month) AS i,
                 count(*) OVER () AS n,
                 lag(cents, 6) OVER (ORDER BY month)
                   + lead(cents, 6) OVER (ORDER BY month)
                   + 2 * (sum(cents) OVER (ORDER BY month
                                           ROWS BETWEEN 5 PRECEDING
                                           AND 5 FOLLOWING)) AS trend_x24
          FROM m),
    det AS (SELECT month % 100 AS moy,
                   24 * cents - trend_x24 AS d
            FROM w WHERE i > 6 AND i <= n - 6)
    SELECT CAST(moy AS BIGINT) AS moy,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(d) AS BIGINT) AS sum_detrended_x24,
           CAST(sum(d) // count(*) AS BIGINT) AS seasonal_idx_x24
    FROM det GROUP BY moy
    """,
)
def q221_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical decomposition, step 2: the month-of-year seasonal
    index — the average q219 detrended residual per calendar month,
    still in exact x24 integer units (the floor-averaged index; both
    engines floor identically because the residual sums are exact).
    A flat profile here certifies the fixture has no synthetic
    seasonality, which is itself the audit finding.  Reuses q219's
    calendar-bounded window then collapses 68 rows to 12."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    wo = Window.orderBy("month")
    w = m.select(
        "month",
        "cents",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(
            Window.orderBy("month").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
        (
            F.lag("cents", 6).over(wo)
            + F.lead("cents", 6).over(wo)
            + 2 * F.sum("cents").over(wo.rowsBetween(-5, 5))
        ).alias("trend_x24"),
    )
    det = w.filter((F.col("i") > 6) & (F.col("i") <= F.col("n") - 6)).select(
        (F.col("month") % 100).alias("moy"),
        (24 * F.col("cents") - F.col("trend_x24")).alias("d"),
    )
    return det.groupBy(F.col("moy").cast("long").alias("moy")).agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum("d").cast("long").alias("sum_detrended_x24"),
        F.expr("CAST(sum(d) DIV count(*) AS BIGINT)").alias(
            "seasonal_idx_x24"
        ),
    )


@register(
    "q222_price_elasticity",
    """
    WITH b AS (SELECT p.p_brand AS brand,
                      CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) AS x,
                      CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS y
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    s AS (SELECT brand,
                 CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x * x) AS HUGEINT) AS sxx,
                 CAST(sum(y * y) AS HUGEINT) AS syy,
                 CAST(sum(x * y) AS HUGEINT) AS sxy
          FROM b GROUP BY brand)
    SELECT brand, CAST(n AS BIGINT) AS n_items,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                        * CAST((n * syy - sy * sy) AS DOUBLE)), 6)
             AS discount_qty_corr
    FROM s
    """,
)
def q222_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount-quantity correlation — the elasticity proxy
    (do deeper discounts ship more units?) as GROUPED Pearson from
    the five exact integer moments (q113's matrix is global; this is
    the per-dimension version every pricing team actually asks for).
    Moments accumulate in DECIMAL/HUGEINT (n*sxy grazes int64 at
    scale — the q198 lesson); the final r makes exactly three
    correctly-rounded double casts, one sqrt, one divide, one round —
    identical on both engines.  One broadcast dim join, one partial
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).select(
        F.col("p_brand").alias("brand"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = b.groupBy("brand").agg(
        dec(F.count("*")).alias("n"),
        dec(F.sum("x")).alias("sx"),
        dec(F.sum("y")).alias("sy"),
        dec(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        dec(F.sum(F.col("y") * F.col("y"))).alias("syy"),
        dec(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
    )
    return s.selectExpr(
        "brand",
        "CAST(n AS BIGINT) AS n_items",
        "ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)"
        "        * CAST((n * syy - sy * sy) AS DOUBLE)), 6)"
        " AS discount_qty_corr",
    )


@register(
    "q223_fulfillment_latency",
    """
    WITH lat AS (SELECT o.o_orderpriority AS pri,
                        CAST(floor(epoch(l.l_shipdate) / 86400)
                             - floor(epoch(o.o_orderdate) / 86400)
                             AS BIGINT) AS days
                 FROM orders o
                 JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    h AS (SELECT pri, days, CAST(count(*) AS BIGINT) AS cnt
          FROM lat GROUP BY 1, 2),
    cum AS (SELECT pri, days, cnt,
                   sum(cnt) OVER (PARTITION BY pri ORDER BY days
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY pri) AS n
            FROM h)
    SELECT pri, CAST(max(n) AS BIGINT) AS n_items,
           CAST(min(CASE WHEN 2 * cum >= n THEN days END) AS BIGINT)
             AS median_days,
           CAST(min(CASE WHEN 20 * cum >= 19 * n THEN days END) AS BIGINT)
             AS p95_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM cum GROUP BY pri
    """,
)
def q223_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per priority class: median, p95, and the
    worst straggler, in whole days — the operational SLA readout
    (does '1-URGENT' actually ship faster?).  Day arithmetic is
    integer epoch-day subtraction on both engines; the quantiles are
    the q133/q200 histogram crossings over (priority, days) — state
    is bounded by the latency range, and p95 is the smallest latency
    with 20*cum >= 19n in pure integers."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lat = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        (
            F.floor(F.unix_timestamp(F.col("l_shipdate")) / 86400)
            - F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        )
        .cast("long")
        .alias("days"),
    )
    h = lat.groupBy("pri", "days").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("pri")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "pri",
        "days",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("pri")).alias("n"),
    )
    return cum.groupBy("pri").agg(
        F.max("n").cast("long").alias("n_items"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("days")))
        .cast("long")
        .alias("median_days"),
        F.min(F.when(20 * F.col("cum") >= 19 * F.col("n"), F.col("days")))
        .cast("long")
        .alias("p95_days"),
        F.max("days").cast("long").alias("max_days"),
    )


@register(
    "q224_user_streaks",
    """
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
               FROM events),
    isl AS (SELECT user_id, day,
                   day - row_number() OVER (PARTITION BY user_id
                                            ORDER BY day) AS island
            FROM d),
    st AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
           FROM isl GROUP BY 1, 2)
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM st GROUP BY user_id
    """,
)
def q224_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    GAPS-AND-ISLANDS shape (day minus dense day-rank is constant
    within a run), the engagement metric behind every 'N-day streak'
    badge and the last textbook window idiom without a green entry.
    Distinct (user, day) first bounds everything by active-days, one
    user-partitioned rank window labels islands, two cheap aggregates
    finish; all integers."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.floor(F.unix_timestamp(F.col("ts")) / 86400)
        .cast("long")
        .alias("day"),
    ).distinct()
    isl = d.select(
        "user_id",
        "day",
        (
            F.col("day")
            - F.row_number().over(
                Window.partitionBy("user_id").orderBy("day")
            )
        ).alias("island"),
    )
    st = isl.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return st.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count("*").cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


@register(
    "q225_power_iteration",
    """
    WITH x AS MATERIALIZED (
      SELECT vec_id, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS val,
             CAST(embedding[1] AS DOUBLE) AS x0
      FROM embeddings, generate_series(1, 64) g(i)),
    v1 AS MATERIALIZED (SELECT i, sum(val * x0) AS v FROM x GROUP BY i),
    s AS MATERIALIZED (SELECT x.vec_id, sum(x.val * v1.v) AS s
                       FROM x JOIN v1 USING (i) GROUP BY x.vec_id),
    v2 AS (SELECT x.i, sum(x.val * s.s) AS v
           FROM x JOIN s USING (vec_id) GROUP BY x.i),
    n AS (SELECT sqrt(sum(v * v)) AS nrm FROM v2)
    SELECT CAST(v2.i - 1 AS BIGINT) AS dim,
           ROUND(v2.v / n.nrm, 6) AS component
    FROM v2, n
    """,
)
def q225_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the embedding cloud by TWO
    un-normalized power-iteration rounds against the implicit Gram
    matrix — v2 = Σx(x·(Σx(x·e0))) — never materializing the 64x64
    matrix, never collecting to the driver: each matvec is one
    explode-join-aggregate pass, LINEAR in dims (the naive outer
    -product route explodes 64² terms per vector).  Intermediate
    normalization is skipped (scale cancels in the final unit
    vector), so the oracle can replay both rounds verbatim; the
    emitted components make one sqrt + divide + 6dp round.  The sign
    convention is fixed by the deterministic e0 start.  The k-means
    (q98) / JL (q110) companion for spectral structure."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("i", "valf"),
        F.col("embedding")[0].cast("double").alias("x0"),
    ).select("vec_id", "i", F.col("valf").cast("double").alias("val"), "x0")
    v1 = x.groupBy("i").agg(F.sum(F.col("val") * F.col("x0")).alias("v"))
    s = (
        x.join(F.broadcast(v1), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("val") * F.col("v")).alias("s"))
    )
    v2 = (
        x.join(s, "vec_id")
        .groupBy("i")
        .agg(F.sum(F.col("val") * F.col("s")).alias("v"))
    )
    n = v2.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    return v2.crossJoin(F.broadcast(n)).select(
        F.col("i").cast("long").alias("dim"),
        F.round(F.col("v") / F.col("nrm"), 6).alias("component"),
    )


@register(
    "q226_seat_allocation",
    """
    WITH rev AS (SELECT c.c_nationkey AS nk,
                        sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                          AS cents
                 FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                 GROUP BY 1),
    t AS (SELECT sum(cents) AS total FROM rev),
    q AS (SELECT nk, cents,
                 CAST((CAST(cents AS HUGEINT) * 1000) // total AS BIGINT)
                   AS floor_seats,
                 CAST((CAST(cents AS HUGEINT) * 1000) % total AS BIGINT)
                   AS remainder
          FROM rev, t),
    lo AS (SELECT CAST(1000 - sum(floor_seats) AS BIGINT) AS leftover
           FROM q),
    r AS (SELECT nk, cents, floor_seats, remainder,
                 row_number() OVER (ORDER BY remainder DESC, nk) AS rr
          FROM q)
    SELECT r.nk AS nationkey, CAST(r.cents AS BIGINT) AS rev_cents,
           r.floor_seats,
           CAST(CASE WHEN r.rr <= lo.leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           r.floor_seats
             + CASE WHEN r.rr <= lo.leftover THEN 1 ELSE 0 END AS seats
    FROM r, lo
    """,
)
def q226_seat_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment: split a budget of 1000 units
    across nations proportional to revenue so the parts sum EXACTLY
    to the whole — the integer-allocation problem behind sampling
    quotas (q63's mixture weights face it), shard assignment, and
    parliamentary seats, where naive rounding leaves units lost or
    invented.  Floor quotas + the leftover handed to the largest
    remainders (deterministic (remainder, nationkey) order); every
    step integer (quota products in HUGEINT/DECIMAL); the window
    ranks 25 rows."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            )
        )
    )
    t = rev.agg(F.sum("cents").alias("total"))
    q = rev.crossJoin(F.broadcast(t)).selectExpr(
        "nk",
        "cents",
        "CAST((CAST(cents AS DECIMAL(38,0)) * 1000) DIV total AS BIGINT)"
        " AS floor_seats",
        "CAST((CAST(cents AS DECIMAL(38,0)) * 1000) % total AS BIGINT)"
        " AS remainder",
    )
    lo = q.agg((F.lit(1000) - F.sum("floor_seats")).cast("long").alias("leftover"))
    r = q.withColumn(
        "rr",
        F.row_number().over(Window.orderBy(F.col("remainder").desc(), "nk")),
    )
    return r.crossJoin(F.broadcast(lo)).select(
        F.col("nk").alias("nationkey"),
        F.col("cents").cast("long").alias("rev_cents"),
        "floor_seats",
        F.when(F.col("rr") <= F.col("leftover"), 1)
        .otherwise(0)
        .cast("long")
        .alias("extra"),
        (
            F.col("floor_seats")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("seats"),
    )


@register(
    "q227_quantile_normalize",
    """
    WITH sup AS (SELECT s_suppkey,
                        CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal,
                        row_number() OVER (ORDER BY floor(s_acctbal * 100 + 0.5),
                                           s_suppkey) AS rk,
                        count(*) OVER () AS n
                 FROM supplier),
    sp AS (SELECT s_suppkey, bal,
                  CAST((1000 * (rk - 1)) // (n - 1) AS BIGINT) AS permille
           FROM sup),
    ch AS (SELECT CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS val,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM customer GROUP BY 1),
    cc AS (SELECT val, sum(cnt) OVER (ORDER BY val
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(cnt) OVER () AS nc
           FROM ch),
    pm AS (SELECT DISTINCT permille FROM sp),
    map AS (SELECT pm.permille,
                   min(CASE WHEN cc.cum * 1000 >= pm.permille * cc.nc
                            THEN cc.val END) AS mapped
            FROM pm, cc GROUP BY pm.permille)
    SELECT sp.s_suppkey, sp.bal AS bal_cents, sp.permille,
           CAST(map.mapped AS BIGINT) AS mapped_cents
    FROM sp JOIN map ON sp.permille = map.permille
    """,
)
def q227_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: re-express each supplier balance as the
    CUSTOMER balance at the same rank permille — the distribution
    -alignment transform (batch-effect removal, feature calibration)
    that makes two populations comparable by construction.  Supplier
    ranks use the deterministic (cents, suppkey) order; the customer
    side is a value histogram with a cumulative window (never raw
    rows); the permille->value map is a bounded 1001-row crossing
    computed once and broadcast back — all pure integers, and
    monotone by construction (pinned in tests)."""
    from pyspark.sql import Window

    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    sup = supplier.select(
        "s_suppkey",
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal"),
    )
    wall = Window.orderBy("bal", "s_suppkey")
    sp = sup.select(
        "s_suppkey",
        "bal",
        F.row_number().over(wall).alias("rk"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    ).selectExpr(
        "s_suppkey", "bal",
        "CAST((1000 * (rk - 1)) DIV (n - 1) AS BIGINT) AS permille",
    )
    ch = customer.groupBy(
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("val")
    ).agg(F.count("*").alias("cnt"))
    cc = ch.select(
        "val",
        F.sum("cnt")
        .over(
            Window.orderBy("val").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("nc"),
    )
    pm = sp.select("permille").distinct()
    mapping = (
        pm.crossJoin(F.broadcast(cc))
        .groupBy("permille")
        .agg(
            F.min(
                F.when(
                    F.col("cum") * 1000 >= F.col("permille") * F.col("nc"),
                    F.col("val"),
                )
            ).alias("mapped")
        )
    )
    return sp.join(F.broadcast(mapping), "permille").select(
        "s_suppkey",
        F.col("bal").alias("bal_cents"),
        "permille",
        F.col("mapped").cast("long").alias("mapped_cents"),
    )


@register(
    "q228_hits_suppliers",
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT c.c_custkey AS cust, l.l_suppkey AS supp
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    a1 AS MATERIALIZED (SELECT supp, CAST(count(*) AS BIGINT) AS a
                        FROM e GROUP BY supp),
    h1 AS MATERIALIZED (SELECT e.cust, CAST(sum(a1.a) AS BIGINT) AS h
                        FROM e JOIN a1 USING (supp) GROUP BY e.cust),
    a2 AS (SELECT e.supp, CAST(sum(h1.h) AS BIGINT) AS authority
           FROM e JOIN h1 USING (cust) GROUP BY e.supp)
    SELECT supp AS s_suppkey, authority
    FROM a2 ORDER BY authority DESC, supp LIMIT 20
    """,
)
def q228_hits_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the bipartite customer->supplier trade graph: two
    full hub/authority rounds (auth1 = in-degree, hub1 = Σ auth of
    suppliers bought from, auth2 = Σ hub of buying customers) — the
    mutual-reinforcement ranking PageRank's single-mode walk (q106)
    doesn't express.  With hub0 = 1 and normalization deferred
    entirely (scale never changes the ORDER), every score stays an
    exact INTEGER — a float-free eigenvector iteration.  Each round
    is one join + one partial aggregate over the distinct edge list;
    top-20 via TakeOrdered with suppkey tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("c_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    a1 = e.groupBy("supp").agg(F.count("*").alias("a"))
    h1 = (
        e.join(F.broadcast(a1), "supp")
        .groupBy("cust")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        e.join(F.broadcast(h1), "cust")
        .groupBy("supp")
        .agg(F.sum("h").cast("long").alias("authority"))
    )
    return (
        a2.select(F.col("supp").alias("s_suppkey"), "authority")
        .orderBy(F.col("authority").desc(), "s_suppkey")
        .limit(20)
    )


@register(
    "q229_readability",
    """
    WITH d AS (SELECT source,
                      CAST(length(string_split_regex(trim(text), '\\s+'))
                           AS BIGINT) AS words,
                      CAST(length(regexp_replace(text, '[^.!?]', '', 'g'))
                           AS BIGINT) AS sentences,
                      CAST(length(regexp_replace(lower(text), '[aeiou]+',
                                                 '#', 'g'))
                           - length(regexp_replace(lower(text), '[aeiou]+',
                                                   '', 'g'))
                           AS BIGINT) AS syllables
               FROM documents)
    SELECT source,
           CAST(sum(words) AS BIGINT) AS n_words,
           CAST(sum(sentences) AS BIGINT) AS n_sentences,
           CAST(sum(syllables) AS BIGINT) AS n_syllables,
           CASE WHEN sum(sentences) = 0 OR sum(words) = 0 THEN NULL
                ELSE ROUND(206.835
                 - 1.015 * CAST(sum(words) AS DOUBLE) / sum(sentences)
                 - 84.6 * CAST(sum(syllables) AS DOUBLE) / sum(words), 4)
           END AS flesch
    FROM d GROUP BY source
    """,
)
def q229_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source from three INTEGER counts —
    words (the q21 whitespace contract), sentence terminators, and
    vowel-group syllables (the classic heuristic: each maximal vowel
    run is one syllable; counted as a length DELTA between
    collapse-to-# and delete rewrites, so no match-array ever
    materializes).  Sources with no terminators at all yield NULL
    (explicitly, on both engines — ANSI mode turns the silent inf
    into an error, which is the better default).  The formula touches
    doubles only in the final fixed expression over exact sums,
    rounded once — the corpus-level
    readability gate next to q20's per-doc quality score."""
    docs = load_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    d = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "words"
        ),
        F.length(F.regexp_replace(F.col("text"), r"[^.!?]", ""))
        .cast("long")
        .alias("sentences"),
        (
            F.length(F.regexp_replace(lower, r"[aeiou]+", "#"))
            - F.length(F.regexp_replace(lower, r"[aeiou]+", ""))
        )
        .cast("long")
        .alias("syllables"),
    )
    return d.groupBy("source").agg(
        F.sum("words").cast("long").alias("n_words"),
        F.sum("sentences").cast("long").alias("n_sentences"),
        F.sum("syllables").cast("long").alias("n_syllables"),
        F.when(
            (F.sum("sentences") == 0) | (F.sum("words") == 0), F.lit(None)
        )
        .otherwise(
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * F.sum("words").cast("double")
                / F.sum("sentences")
                - F.lit(84.6)
                * F.sum("syllables").cast("double")
                / F.sum("words"),
                4,
            )
        )
        .alias("flesch"),
    )


@register(
    "q230_sequence_patterns",
    """
    WITH e AS (SELECT user_id, event_id,
                      substr(event_type, 1, 1) AS ch,
                      CAST(epoch_us(ts) AS BIGINT) AS us
               FROM events),
    m AS (SELECT user_id, event_id, ch, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, ch, us, event_id,
                 sum(is_new) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS session_id
          FROM m),
    seq AS (SELECT user_id, session_id,
                   string_agg(ch, '' ORDER BY us, event_id) AS sq
            FROM s GROUP BY 1, 2),
    pat AS (SELECT 'view_click_purchase' AS pattern,
                   'v.*c.*p' AS re
            UNION ALL SELECT 'error_entry', '^e'
            UNION ALL SELECT 'error_loop', 'e.*e.*e'),
    hits AS (SELECT p.pattern,
                    CAST(count(*) AS BIGINT) AS n_sessions,
                    CAST(sum(CASE WHEN regexp_matches(seq.sq, p.re)
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_match
             FROM seq, pat p GROUP BY p.pattern)
    SELECT pattern, n_sessions, n_match,
           CAST((n_match * 1000) // n_sessions AS BIGINT) AS match_permille
    FROM hits
    """,
)
def q230_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: each session's event types collapse to a
    one-char-per-event string (deterministic (ts, event_id) order)
    and behavioral patterns become plain REGEXES over it —
    'v.*c.*p' is q79's funnel, '^e' is q215's bad landing, 'e.*e.*e'
    is a retry loop — one compact encode pass instead of one
    self-join per pattern step.  Three literal patterns cross-joined
    (3x sessions, bounded), counts in integer permille.  The session
    string is the only non-scalar state and is bounded by session
    length."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = base.withColumn(
        "session_id",
        F.sum(
            F.when(
                F.lag("us").over(w).isNull()
                | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
                1,
            ).otherwise(0)
        ).over(w),
    )
    seq = sess.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("us", "event_id", "ch"))
                ),
                lambda x: x["ch"],
            ),
        ).alias("sq")
    )
    # One aggregate, one pass: the former pattern-table crossJoin ran
    # every session string through `sq RLIKE re` with a NON-LITERAL
    # pattern column, which compiles the regex per ROW (Spark's RLIKE
    # only caches foldable patterns) and triples the rows carrying the
    # session strings through the aggregate.  Three literal-pattern
    # match sums compile each regex ONCE at codegen and read the
    # session frame once; the 3-row (pattern, n_match) shape is then
    # restored from the 1-row aggregate with an inline array explode
    # (guide §1.2 per-task work / §2.3 shuffle fewer bytes — r13 opt).
    # Same rows as the crossJoin form: n_sessions is the total session
    # count for every pattern, n_match the per-pattern RLIKE sum.
    agg = seq.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("sq").rlike("v.*c.*p"), 1).otherwise(0))
        .cast("long")
        .alias("m_funnel"),
        F.sum(F.when(F.col("sq").rlike("^e"), 1).otherwise(0))
        .cast("long")
        .alias("m_entry"),
        F.sum(F.when(F.col("sq").rlike("e.*e.*e"), 1).otherwise(0))
        .cast("long")
        .alias("m_loop"),
    )
    # A global aggregate emits one row even over no sessions; the
    # crossJoin form (and the DuckDB oracle) emit none, so drop it
    # before the explode turns it into three zero-session rows.
    hits = agg.where(F.col("n_sessions") > 0).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("view_click_purchase").alias("pattern"),
                    F.col("m_funnel").alias("n_match"),
                ),
                F.struct(
                    F.lit("error_entry").alias("pattern"),
                    F.col("m_entry").alias("n_match"),
                ),
                F.struct(
                    F.lit("error_loop").alias("pattern"),
                    F.col("m_loop").alias("n_match"),
                ),
            )
        ).alias("h"),
        "n_sessions",
    )
    return hits.select(
        F.col("h.pattern").alias("pattern"),
        "n_sessions",
        F.col("h.n_match").alias("n_match"),
        F.expr("CAST((h.n_match * 1000) DIV n_sessions AS BIGINT)").alias(
            "match_permille"
        ),
    )


@register(
    "q231_abc_classification",
    """
    WITH pr AS (SELECT l_partkey AS part,
                       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                           * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                         AS e4
                FROM lineitem GROUP BY 1),
    c AS (SELECT part, e4,
                 sum(e4) OVER (ORDER BY e4 DESC, part
                               ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(e4) OVER () AS tot
          FROM pr),
    cls AS (SELECT part, e4,
                   CASE WHEN (cum - e4) * 100 < tot * 80 THEN 'A'
                        WHEN (cum - e4) * 100 < tot * 95 THEN 'B'
                        ELSE 'C' END AS klass
            FROM c)
    SELECT klass, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(e4) AS BIGINT) AS revenue_e4
    FROM cls GROUP BY klass
    """,
)
def q231_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts binned by cumulative
    revenue share (A carries the first 80%, B to 95%, C the tail) —
    the procurement-policy cut built on the same cumulative machinery
    as q190's Pareto share, but assigning a CLASS per item by the
    share BEFORE the item (so the first item crossing a boundary
    still belongs to the class it completes — the off-by-one both
    engines must agree on, hence (cum - e4)*100 < tot*K in pure
    integers).  The window runs over the per-part aggregate; at 1e9
    parts the two-pass histogram crossing (q84) replaces the global
    ordered window, same contract."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    pr = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(e4).alias("e4")
    )
    c = pr.select(
        "part",
        "e4",
        F.sum("e4")
        .over(
            Window.orderBy(F.col("e4").desc(), "part").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("e4")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("tot"),
    )
    cls = c.select(
        "e4",
        F.when((F.col("cum") - F.col("e4")) * 100 < F.col("tot") * 80, "A")
        .when((F.col("cum") - F.col("e4")) * 100 < F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("klass"),
    )
    return cls.groupBy("klass").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("e4").cast("long").alias("revenue_e4"),
    )


@register(
    "q232_invoice_reconciliation",
    """
    WITH ls AS (SELECT l_orderkey,
                       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                         AS line_cents
                FROM lineitem GROUP BY 1),
    j AS (SELECT o.o_orderkey,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
                 CAST(COALESCE(ls.line_cents, 0) AS BIGINT) AS line_cents
          FROM orders o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey)
    SELECT o_orderkey, header_cents, line_cents,
           CAST(abs(header_cents - line_cents) AS BIGINT) AS gap_cents
    FROM j
    ORDER BY abs(header_cents - line_cents) DESC, o_orderkey
    LIMIT 10
    """,
)
def q232_invoice_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice reconciliation: order-header totals against the sum of
    their line amounts, worst 10 discrepancies first — the
    header/detail consistency audit every billing pipeline runs (and
    on THIS fixture the finding is that the generator ties the two
    loosely, which q107's FK checks can't see because every key
    resolves).  Exact integer cents both sides, LEFT join keeps
    line-less orders visible as pure header gaps, TakeOrdered caps
    the sort at 10 with an orderkey tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ls = li.groupBy("l_orderkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "line_cents"
        )
    )
    j = orders.join(
        ls, orders["o_orderkey"] == ls["l_orderkey"], "left"
    ).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias(
            "header_cents"
        ),
        F.coalesce(F.col("line_cents"), F.lit(0)).alias("line_cents"),
    )
    return (
        j.withColumn(
            "gap_cents", F.abs(F.col("header_cents") - F.col("line_cents"))
        )
        .orderBy(F.col("gap_cents").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "q233_time_rollup",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      CAST(floor(epoch(o_orderdate) / 604800) AS BIGINT)
                        AS week,
                      CAST(year(o_orderdate) * 100 + month(o_orderdate)
                           AS BIGINT) AS month,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders)
    SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                WHEN grouping(week) = 0 THEN 'week'
                ELSE 'month' END AS grain,
           COALESCE(day, week, month) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS rev_cents
    FROM d
    GROUP BY GROUPING SETS ((day), (week), (month))
    """,
)
def q233_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day, week, AND month revenue rollups from ONE scan via
    time-grain GROUPING SETS — the OLAP pre-aggregation pass that
    feeds every dashboard zoom level without re-reading the fact
    three times (q90's grouping sets are dimensional; this is the
    temporal axis, where the win is proportional to grain count).
    grouping() flags label each stratum; bucket keys are disjoint
    integer domains (epoch-day ~20k, epoch-week ~2.8k, yyyymm
    ~200k), so COALESCE is unambiguous and the union needs no
    per-grain tagging column."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 604800)
        .cast("long")
        .alias("week"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    d.createOrReplaceTempView("_time_rollup_d")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                    WHEN grouping(week) = 0 THEN 'week'
                    ELSE 'month' END AS grain,
               COALESCE(day, week, month) AS bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM _time_rollup_d
        GROUP BY GROUPING SETS ((day), (week), (month))
        """
    )


@register(
    "q234_mutual_information",
    """
    WITH cell AS (SELECT event_type AS t,
                         CAST(hour(ts) AS BIGINT) AS h,
                         CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1, 2),
    rx AS (SELECT t, sum(c) AS ct FROM cell GROUP BY t),
    cy AS (SELECT h, sum(c) AS ch FROM cell GROUP BY h),
    n AS (SELECT sum(c) AS n FROM cell)
    SELECT CAST(n.n AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_cells,
           ROUND(sum((CAST(cell.c AS DOUBLE) / n.n)
                     * ln(CAST(cell.c AS DOUBLE) * n.n
                          / (CAST(rx.ct AS DOUBLE) * cy.ch))), 6) AS mi_nats
    FROM cell JOIN rx USING (t) JOIN cy USING (h) CROSS JOIN n
    GROUP BY n.n
    """,
)
def q234_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event TYPE and HOUR-of-day — the
    single number saying whether behavior has a daily rhythm (0 =
    types fire uniformly round the clock).  Completes the
    info-theory kit: q206 is one variable's entropy, q100 is
    pairwise PMI, this is the expectation of PMI over the joint.
    All three margins come from the 120-cell contingency aggregate
    (no second scan); the ln terms follow the q156 float contract —
    exact integer counts into a fixed expression, one 6dp round on
    the 120-term sum."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("event_type").alias("t"),
        F.hour("ts").cast("long").alias("h"),
    ).agg(F.count("*").alias("c"))
    rx = cell.groupBy("t").agg(F.sum("c").alias("ct"))
    cy = cell.groupBy("h").agg(F.sum("c").alias("ch"))
    n = cell.agg(F.sum("c").alias("n"))
    j = (
        cell.join(F.broadcast(rx), "t")
        .join(F.broadcast(cy), "h")
        .crossJoin(F.broadcast(n))
    )
    term = (F.col("c").cast("double") / F.col("n")) * F.log(
        F.col("c").cast("double")
        * F.col("n")
        / (F.col("ct").cast("double") * F.col("ch"))
    )
    return j.groupBy(F.col("n")).agg(
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.sum(term), 6).alias("mi_nats"),
    ).select(
        F.col("n").cast("long").alias("n_events"), "n_cells", "mi_nats"
    )


@register(
    "q235_conversion_wilson",
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(epoch_us(ts) AS BIGINT) AS us
               FROM events),
    m AS (SELECT user_id, event_id, event_type, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, event_type, us, event_id,
                 sum(is_new) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS session_id
          FROM m),
    ranked AS (SELECT user_id, session_id, event_type,
                      row_number() OVER (PARTITION BY user_id, session_id
                                         ORDER BY us, event_id) AS rn
               FROM s),
    conv AS (SELECT user_id, session_id,
                    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS converted
             FROM s GROUP BY 1, 2),
    per AS (SELECT r.event_type AS entry_type, c.converted
            FROM ranked r JOIN conv c USING (user_id, session_id)
            WHERE r.rn = 1),
    agg AS (SELECT entry_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(converted) AS BIGINT) AS k
            FROM per GROUP BY entry_type)
    SELECT entry_type, n, k,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_lo,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_hi
    FROM agg
    """,
)
def q235_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session conversion rate per entry type WITH 95% Wilson score
    intervals — the uncertainty q132's point estimates lack, and the
    interval that stays sane at small n where the naive normal CI
    breaks.  Sessions and conversions reuse the 30-min contract;
    the Wilson algebra (z=1.96 folded into literal constants
    1.9208 = z², 0.9604 = z²/2... all pinned identically in both
    texts) runs on exact integer (k, n) through one fixed double
    expression per bound, rounded once."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = base.withColumn(
        "session_id",
        F.sum(
            F.when(
                F.lag("us").over(w).isNull()
                | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
                1,
            ).otherwise(0)
        ).over(w),
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", F.struct("us", "event_id")).alias(
            "entry_type"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    agg = per.groupBy("entry_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("k"),
    )
    return agg.selectExpr(
        "entry_type", "n", "k",
        "ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n"
        " - 1.96 * sqrt((CAST(k AS DOUBLE) / n)"
        " * (1.0 - CAST(k AS DOUBLE) / n) / n"
        " + 0.9604 / (CAST(n AS DOUBLE) * n)))"
        " / (1.0 + 3.8416 / n), 6) AS wilson_lo",
        "ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n"
        " + 1.96 * sqrt((CAST(k AS DOUBLE) / n)"
        " * (1.0 - CAST(k AS DOUBLE) / n) / n"
        " + 0.9604 / (CAST(n AS DOUBLE) * n)))"
        " / (1.0 + 3.8416 / n), 6) AS wilson_hi",
    )


@register(
    "q236_neardup_evidence",
    f"""
    WITH sh AS MATERIALIZED ({_SQL_SHINGLE3}),
    seeds AS (SELECT unnest(['0','1','2','3','4','5','6','7']) AS seed),
    sig AS MATERIALIZED (
      SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS mh
      FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.seed = b.seed AND a.mh = b.mh
                           AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    sz AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                        FROM sh GROUP BY doc_id),
    com AS (SELECT p.doc_a, p.doc_b,
                   CAST(count(*) AS BIGINT) AS n_common,
                   min(sa.shingle) AS example_shingle
            FROM pairs p
            JOIN sh sa ON sa.doc_id = p.doc_a
            JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
            GROUP BY 1, 2)
    SELECT c.doc_a, c.doc_b, c.n_common,
           za.n AS n_a, zb.n AS n_b,
           CAST((c.n_common * 1000) // (za.n + zb.n - c.n_common) AS BIGINT)
             AS jaccard_permille,
           c.example_shingle
    FROM com c JOIN sz za ON c.doc_a = za.doc_id
               JOIN sz zb ON c.doc_b = zb.doc_id
    """,
)
def q236_neardup_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVIDENCE for the near-dup verdicts: every q16 LSH candidate
    pair re-scored with its EXACT shingle overlap — common count,
    both set sizes, true Jaccard permille, and a concrete shared
    shingle to show a human — the explainability surface a dedup
    pipeline needs before it deletes documents (MinHash says
    'probably'; this says 'here is why').  The exact rescoring joins
    shingles ONLY for the surviving candidate pairs (never all
    pairs), so cost is |candidates| x shingle-set size, and the
    example shingle is a deterministic min."""
    from .operators.dedup import lsh_candidate_pairs, shingles

    docs = load_table(spark, sf_dir, "documents")
    # one lazy cut: sh feeds the size aggregate and both evidence legs
    # (3 consumers — the r6 single-upstream-pass rule; r8 review)
    sh = (
        shingles(docs.select("doc_id", "text"))
        .select("doc_id", "shingle")
        .localCheckpoint(eager=False)
    )
    pairs = lsh_candidate_pairs(docs, on_overflow="error").select(
        "doc_a", "doc_b"
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sh_b")
    )
    com = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("sh_a") == F.col("sh_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.min("sh_a").alias("example_shingle"),
        )
    )
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        com.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(
                "CAST((n_common * 1000) DIV (n_a + n_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_permille"),
            "example_shingle",
        )
    )


@register(
    "q237_quartile_migration",
    """
    WITH pa AS (SELECT o_custkey AS ck,
                       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS sp
                FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
                GROUP BY 1),
    pb AS (SELECT o_custkey AS ck,
                  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS sp
           FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
           GROUP BY 1),
    pres AS (SELECT pa.ck, pa.sp AS sa, pb.sp AS sb
             FROM pa JOIN pb ON pa.ck = pb.ck),
    r AS (SELECT ck,
                 row_number() OVER (ORDER BY sa, ck) AS ra,
                 row_number() OVER (ORDER BY sb, ck) AS rb,
                 count(*) OVER () AS n
          FROM pres)
    SELECT CAST((4 * (ra - 1)) // n AS BIGINT) AS quartile_early,
           CAST((4 * (rb - 1)) // n AS BIGINT) AS quartile_late,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM r GROUP BY 1, 2
    """,
)
def q237_quartile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-quartile MIGRATION matrix: where each customer's
    1995-97 spending quartile lands in 1998-2000 — the longitudinal
    mobility view (a heavy diagonal means rank is sticky; q80's
    retention only says they came back, not whether they moved up).
    Quartiles are pure integer rank buckets (4*(rank-1))//n with the
    (spend, custkey) deterministic order, both periods ranked in the
    same window pass; at 1e9 customers the ranks become q183's
    histogram-ppm transform, same contract.  16-cell output."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    pa = (
        orders.filter(F.col("o_orderdate") < "1998-01-01")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.sum(cents).alias("sa"))
    )
    pb = (
        orders.filter(F.col("o_orderdate") >= "1998-01-01")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.sum(cents).alias("sb"))
    )
    both = pa.join(pb, "ck")
    r = both.select(
        "ck",
        F.row_number().over(Window.orderBy("sa", "ck")).alias("ra"),
        F.row_number().over(Window.orderBy("sb", "ck")).alias("rb"),
        F.count("*")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    return r.selectExpr(
        "CAST((4 * (ra - 1)) DIV n AS BIGINT) AS quartile_early",
        "CAST((4 * (rb - 1)) DIV n AS BIGINT) AS quartile_late",
    ).groupBy("quartile_early", "quartile_late").agg(
        F.count("*").cast("long").alias("n_customers")
    )


@register(
    "q238_supply_redundancy",
    """
    WITH ps AS (SELECT l_partkey AS part,
                       CAST(count(DISTINCT l_suppkey) AS BIGINT)
                         AS n_suppliers
                FROM lineitem GROUP BY 1),
    j AS (SELECT p.p_brand AS brand, ps.n_suppliers
          FROM ps JOIN part p ON ps.part = p.p_partkey)
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(n_suppliers) AS BIGINT) AS min_suppliers,
           CAST(max(n_suppliers) AS BIGINT) AS max_suppliers,
           CAST(sum(CASE WHEN n_suppliers < 18 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_thin,
           CAST((sum(n_suppliers) * 1000) // count(*) AS BIGINT)
             AS avg_suppliers_permille
    FROM j GROUP BY brand
    """,
)
def q238_supply_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-redundancy profile per brand: how many distinct
    suppliers back each part (min / max / thin-tail count below 18 /
    permille average) — the single-source-risk audit a procurement
    team runs before a supplier fails; on THIS fixture the finding
    is healthy redundancy everywhere (min 13), which the numbers
    prove rather than assume.  One distinct-count aggregate keyed by
    part, one broadcast dim join, one brand rollup — all exact
    integers."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ps = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    j = ps.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("part") == F.col("p_partkey"),
    ).select(F.col("p_brand").alias("brand"), "n_suppliers")
    return j.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.min("n_suppliers").cast("long").alias("min_suppliers"),
        F.max("n_suppliers").cast("long").alias("max_suppliers"),
        F.sum(F.when(F.col("n_suppliers") < 18, 1).otherwise(0))
        .cast("long")
        .alias("n_thin"),
        F.expr(
            "CAST((sum(n_suppliers) * 1000) DIV count(*) AS BIGINT)"
        ).alias("avg_suppliers_permille"),
    )


@register(
    "q239_window_funnel",
    """
    WITH t1 AS (SELECT user_id,
                       min(CAST(epoch_us(ts) AS BIGINT)) AS v
                FROM events WHERE event_type = 'view' GROUP BY 1),
    t2 AS (SELECT e.user_id,
                  min(CAST(epoch_us(e.ts) AS BIGINT)) AS c
           FROM events e JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click'
             AND CAST(epoch_us(e.ts) AS BIGINT) > t1.v
             AND CAST(epoch_us(e.ts) AS BIGINT) <= t1.v + 3600000000
           GROUP BY 1),
    t3 AS (SELECT e.user_id,
                  min(CAST(epoch_us(e.ts) AS BIGINT)) AS p
           FROM events e JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase'
             AND CAST(epoch_us(e.ts) AS BIGINT) > t2.c
             AND CAST(epoch_us(e.ts) AS BIGINT) <= t2.c + 3600000000
           GROUP BY 1),
    lvl AS (SELECT t1.user_id,
                   1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END
                     AS max_step
            FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
                    LEFT JOIN t3 ON t1.user_id = t3.user_id)
    SELECT CAST(max_step AS BIGINT) AS max_step,
           CAST(count(*) AS BIGINT) AS n_users
    FROM lvl GROUP BY 1
    """,
)
def q239_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-CONSTRAINED funnel (the windowFunnel semantic): view ->
    click within 1 HOUR of the first view -> purchase within 1 hour
    of that click — strictly ordered with per-step deadlines, which
    q79's whole-history funnel cannot express (a purchase three days
    later still counts there; here it lapses).  Each step is one
    filtered aggregate joined back on the user — step K's deadline
    derives from step K-1's achieved time, so the chain is two
    hash-join passes, not a per-user loop; all comparisons in exact
    epoch micros."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(t1), "user_id")
        .filter(
            (F.col("us") > F.col("v"))
            & (F.col("us") <= F.col("v") + 3_600_000_000)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("c"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(t2), "user_id")
        .filter(
            (F.col("us") > F.col("c"))
            & (F.col("us") <= F.col("c") + 3_600_000_000)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p"))
    )
    lvl = (
        t1.join(t2.select("user_id", F.lit(1).alias("s2")), "user_id", "left")
        .join(t3.select("user_id", F.lit(1).alias("s3")), "user_id", "left")
        .select(
            (
                F.lit(1)
                + F.coalesce(F.col("s2"), F.lit(0))
                + F.coalesce(F.col("s3"), F.lit(0))
            ).alias("max_step")
        )
    )
    return lvl.groupBy(F.col("max_step").cast("long").alias("max_step")).agg(
        F.count("*").cast("long").alias("n_users")
    )


@register(
    "q240_term_dispersion",
    """
    WITH tok AS (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '\\s+')) AS w
                 FROM documents),
    tc AS (SELECT w, CAST(count(*) AS BIGINT) AS tf,
                  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM tok WHERE w <> '' GROUP BY w)
    SELECT w AS term, tf, df,
           CAST((tf * 1000) // df AS BIGINT) AS burst_permille
    FROM tc ORDER BY tf DESC, w LIMIT 40
    """,
)
def q240_term_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term DISPERSION for the vocabulary head: total frequency
    against document frequency, with tf/df as integer permille —
    burstiness (a term with tf >> df clumps inside few documents:
    boilerplate, templates, spam; tf ~ df spreads evenly) — the
    IR-side signal BM25's idf alone hides, next to q201's hapax
    tail.  One tokenize scan, one (word) aggregate carrying both
    counts, TakeOrdered head of 40."""
    from .functions.textfn import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct("doc_id").cast("long").alias("df"),
        )
    )
    return (
        tc.select(
            F.col("w").alias("term"),
            "tf",
            "df",
            F.expr("CAST((tf * 1000) DIV df AS BIGINT)").alias(
                "burst_permille"
            ),
        )
        .orderBy(F.col("tf").desc(), "term")
        .limit(40)
    )


@register(
    "q241_basket_drift",
    """
    WITH pp AS (SELECT o.o_custkey AS ck, l.l_partkey AS part,
                       max(CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
                                THEN 1 ELSE 0 END) AS e,
                       max(CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01'
                                THEN 1 ELSE 0 END) AS l
                FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                GROUP BY 1, 2),
    per AS (SELECT ck,
                   CAST(sum(e) AS BIGINT) AS n_early,
                   CAST(sum(l) AS BIGINT) AS n_late,
                   CAST(sum(e * l) AS BIGINT) AS n_both
            FROM pp GROUP BY ck
            HAVING sum(e) > 0 AND sum(l) > 0),
    j AS (SELECT ck,
                 CAST((n_both * 1000) // (n_early + n_late - n_both)
                      AS BIGINT) AS jac_permille
          FROM per)
    SELECT CAST(jac_permille // 10 AS BIGINT) AS overlap_pct,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM j GROUP BY 1
    """,
)
def q241_basket_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket DRIFT: per customer, the Jaccard overlap between the
    part sets they bought before and after 1998, histogrammed by
    decile — do customers keep buying the same things?  The set
    intersection never materializes: per (customer, part) two
    period FLAGS via max(), then Jaccard falls out of three integer
    sums (Σe, Σl, Σe·l) in one aggregate — the flag-product trick
    that turns per-key set algebra into pure partial aggregation.
    Customers active in only one period are excluded by HAVING (no
    drift is defined for them); buckets are percent points (this
    fixture's overlaps top out at ~7%, so deciles would collapse)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pp = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("part")
        )
        .agg(
            F.max(
                F.when(F.col("o_orderdate") < "1998-01-01", 1).otherwise(0)
            ).alias("e"),
            F.max(
                F.when(F.col("o_orderdate") >= "1998-01-01", 1).otherwise(0)
            ).alias("l"),
        )
    )
    per = (
        pp.groupBy("ck")
        .agg(
            F.sum("e").cast("long").alias("n_early"),
            F.sum("l").cast("long").alias("n_late"),
            F.sum(F.col("e") * F.col("l")).cast("long").alias("n_both"),
        )
        .filter((F.col("n_early") > 0) & (F.col("n_late") > 0))
    )
    j = per.selectExpr(
        "CAST((n_both * 1000) DIV (n_early + n_late - n_both) AS BIGINT)"
        " AS jac_permille"
    )
    return j.selectExpr(
        "CAST(jac_permille DIV 10 AS BIGINT) AS overlap_pct"
    ).groupBy("overlap_pct").agg(
        F.count("*").cast("long").alias("n_customers")
    )


@register(
    "q242_transition_entropy",
    """
    WITH seqd AS (SELECT user_id, event_type AS a,
                         lead(event_type) OVER (PARTITION BY user_id
                                                ORDER BY epoch_us(ts),
                                                         event_id) AS b
                  FROM events),
    c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
          FROM seqd WHERE b IS NOT NULL GROUP BY 1, 2)
    SELECT a AS from_type,
           CAST(sum(c) AS BIGINT) AS n_transitions,
           ROUND(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6)
             AS next_entropy_nats
    FROM c GROUP BY a
    """,
)
def q242_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral PREDICTABILITY: the entropy of what comes next
    after each event type — 0 means one type always follows
    (deterministic flows worth hard-coding), ln(5) means anything
    can (q120 gives the transition MATRIX; this is its per-row
    uncertainty summary).  One lead() window builds the bigram
    stream (same deterministic (ts, event_id) order as q120, so the
    two reconcile), then q206's aggregation-friendly entropy
    identity over the 25-cell count table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), "event_id"
    )
    seqd = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    c = seqd.groupBy("a", "b").agg(F.count("*").alias("c"))
    return c.groupBy(F.col("a").alias("from_type")).agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
            6,
        ).alias("next_entropy_nats"),
    )


@register(
    "q243_autocorrelation",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
               FROM orders GROUP BY 1),
    lags AS (SELECT day, x,
                    lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
                    lag(x, 3) OVER w AS l3, lag(x, 4) OVER w AS l4,
                    lag(x, 5) OVER w AS l5, lag(x, 6) OVER w AS l6,
                    lag(x, 7) OVER w AS l7
             FROM d WINDOW w AS (ORDER BY day)),
    long AS (SELECT k, x, y FROM (
               SELECT x, unnest([1,2,3,4,5,6,7]) AS k,
                      unnest([l1,l2,l3,l4,l5,l6,l7]) AS y
               FROM lags) t WHERE y IS NOT NULL),
    s AS (SELECT k, CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy
          FROM long GROUP BY k)
    SELECT CAST(k AS BIGINT) AS lag_days, CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                        * CAST((n * syy - sy * sy) AS DOUBLE)), 6) AS acf
    FROM s
    """,
)
def q243_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1-7 — the weekly
    -rhythm diagnostic (a lag-7 spike means day-of-week structure;
    all-flat certifies the generator is memoryless, the q221
    finding from a different angle).  Seven lag taps share ONE
    ordered window over the daily aggregate, unpivot to (lag, x, y)
    pairs, and each lag's Pearson comes from five exact integer
    moments in DECIMAL/HUGEINT (the q222 contract) — one scan, one
    window, one 7-row reduce."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("x"))
    w = Window.orderBy("day")
    lags = d.select(
        "x", *[F.lag("x", k).over(w).alias(f"l{k}") for k in range(1, 8)]
    )
    pairs = ", ".join(f"{k}, l{k}" for k in range(1, 8))
    long = lags.selectExpr(
        "x", f"stack(7, {pairs}) AS (k, y)"
    ).filter(F.col("y").isNotNull())
    # daily cents square to ~2e18 PER TERM: the decimal promotion must
    # happen before the product, not just before the ppm step
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = long.groupBy("k").agg(
        dec(F.count("*")).alias("n"),
        dec(F.sum("x")).alias("sx"),
        dec(F.sum("y")).alias("sy"),
        dec(F.sum(dx * dx)).alias("sxx"),
        dec(F.sum(dy * dy)).alias("syy"),
        dec(F.sum(dx * dy)).alias("sxy"),
    )
    return s.selectExpr(
        "CAST(k AS BIGINT) AS lag_days",
        "CAST(n AS BIGINT) AS n_days",
        "ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)"
        "        * CAST((n * syy - sy * sy) AS DOUBLE)), 6) AS acf",
    )


@register(
    "q244_log2_histogram",
    """
    WITH b AS (SELECT CAST(length(bin(CAST(floor(o_totalprice * 100 + 0.5)
                                           AS BIGINT))) - 1 AS BIGINT)
                 AS bucket
               FROM orders WHERE o_totalprice > 0),
    h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b
          GROUP BY bucket),
    t AS (SELECT sum(n) AS total FROM h)
    SELECT bucket,
           CAST(2 ** bucket AS BIGINT) AS lo_cents,
           n,
           CAST((n * 1000000) // total AS BIGINT) AS share_ppm
    FROM h, t
    """,
)
def q244_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (Prometheus-style) histogram of order values: the
    bucket is floor(log2(cents)) computed as BINARY STRING LENGTH —
    no floating log anywhere near a bucket boundary, so a value at
    exactly 2^k can never flip buckets between engines (the
    float-log trap this formulation exists to kill).  Exponential
    buckets are the observability standard because they give
    constant relative error with ~40 buckets across 12 orders of
    magnitude — the right shape for latency/value distributions at
    any scale.  One scan, one bounded aggregate, broadcast total."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.filter(F.col("o_totalprice") > 0).select(
        (
            F.length(F.bin(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")))
            - 1
        )
        .cast("long")
        .alias("bucket")
    )
    h = b.groupBy("bucket").agg(F.count("*").cast("long").alias("n"))
    t = h.agg(F.sum("n").alias("total"))
    return h.crossJoin(F.broadcast(t)).selectExpr(
        "bucket",
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) AS BIGINT)"
        " AS lo_cents",
        "n",
        "CAST((n * 1000000) DIV total AS BIGINT) AS share_ppm",
    )


@register(
    "q245_mean_triad",
    """
    WITH o AS (SELECT c.c_nationkey AS nk,
                      CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               WHERE o.o_totalprice > 0)
    SELECT nk AS nationkey, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) // count(*) AS BIGINT) AS arith_mean_cents,
           ROUND(exp(avg(ln(CAST(cents AS DOUBLE)))), 2) AS geo_mean_cents,
           ROUND(count(*) / sum(1.0 / cents), 2) AS harm_mean_cents
    FROM o GROUP BY nk
    """,
)
def q245_mean_triad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mean triad per nation — arithmetic (exact integer floor),
    geometric (exp-mean-log, the multiplicative center rates and
    ratios should be averaged with), harmonic (the right mean for
    unit-per-cost aggregation) — with AM >= GM >= HM as a built-in
    cross-check (pinned in tests).  Geometric and harmonic follow
    the q156 float contract: exact integer cents into ln/reciprocal,
    one aggregate, one 2dp round; everything shares a single scan
    and partial aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = (
        orders.filter(F.col("o_totalprice") > 0)
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
    )
    return o.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias(
            "arith_mean_cents"
        ),
        F.round(
            F.exp(F.avg(F.log(F.col("cents").cast("double")))), 2
        ).alias("geo_mean_cents"),
        F.round(F.count("*") / F.sum(F.lit(1.0) / F.col("cents")), 2).alias(
            "harm_mean_cents"
        ),
    )


@register(
    "q246_sample_allocation",
    """
    WITH o AS (SELECT c.c_nationkey AS nk,
                      CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    h AS (SELECT nk, cents, CAST(count(*) AS BIGINT) AS cnt
          FROM o GROUP BY 1, 2),
    cum AS (SELECT nk, cents, cnt,
                   sum(cnt) OVER (PARTITION BY nk ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY nk) AS n
            FROM h),
    spread AS (SELECT nk, CAST(max(n) AS BIGINT) AS n,
                      CAST(min(CASE WHEN 10 * cum >= 9 * n THEN cents END)
                           - min(CASE WHEN 10 * cum >= n THEN cents END)
                           AS BIGINT) AS idr
               FROM cum GROUP BY nk),
    wgt AS (SELECT nk, n, idr,
                   CAST(n AS HUGEINT) * idr AS w FROM spread),
    t AS (SELECT sum(w) AS tw FROM wgt),
    q AS (SELECT nk, n, idr,
                 CAST((w * 10000) // tw AS BIGINT) AS floor_alloc,
                 CAST((w * 10000) % tw AS BIGINT) AS rem
          FROM wgt, t),
    lo AS (SELECT CAST(10000 - sum(floor_alloc) AS BIGINT) AS leftover
           FROM q),
    r AS (SELECT nk, n, idr, floor_alloc, rem,
                 row_number() OVER (ORDER BY rem DESC, nk) AS rr
          FROM q)
    SELECT r.nk AS nationkey, r.n AS n_orders, r.idr AS interdecile_cents,
           r.floor_alloc
             + CASE WHEN r.rr <= lo.leftover THEN 1 ELSE 0 END AS sample_n
    FROM r, lo
    """,
)
def q246_sample_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-aware sample allocation: a 10,000-row audit budget
    split across nations proportional to N_h x spread_h — the Neyman
    idea with the inter-decile range (p90-p10 via q133 histogram
    crossings) standing in for the standard deviation, which keeps
    EVERY quantity an exact integer (sqrt of a variance would drag
    the allocation through floats; the IDR is the robust spread a
    skewed-value audit wants anyway).  Largest-remainder rounding
    (q226) makes the parts sum exactly to the budget — the complete
    'design a stratified sample' pass built from house primitives."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    h = o.groupBy("nk", "cents").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("nk")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "nk",
        "cents",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("nk")).alias("n"),
    )
    spread = cum.groupBy("nk").agg(
        F.max("n").cast("long").alias("n"),
        (
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("cents"))
            )
            - F.min(F.when(10 * F.col("cum") >= F.col("n"), F.col("cents")))
        )
        .cast("long")
        .alias("idr"),
    )
    wgt = spread.select(
        "nk", "n", "idr",
        (F.col("n").cast("decimal(38,0)") * F.col("idr")).alias("w"),
    )
    t = wgt.agg(F.sum("w").alias("tw"))
    q = wgt.crossJoin(F.broadcast(t)).selectExpr(
        "nk", "n", "idr",
        "CAST((w * 10000) DIV tw AS BIGINT) AS floor_alloc",
        "CAST((w * 10000) % tw AS BIGINT) AS rem",
    )
    lo = q.agg(
        (F.lit(10000) - F.sum("floor_alloc")).cast("long").alias("leftover")
    )
    r = q.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.col("rem").desc(), "nk"))
    )
    return r.crossJoin(F.broadcast(lo)).select(
        F.col("nk").alias("nationkey"),
        F.col("n").alias("n_orders"),
        F.col("idr").alias("interdecile_cents"),
        (
            F.col("floor_alloc")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("sample_n"),
    )


@register(
    "q247_revenue_bridge",
    """
    WITH m AS (SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate)
                           AS BIGINT) AS month,
                      c.c_nationkey AS nk,
                      sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                        AS cents
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY 1, 2),
    t AS (SELECT month, sum(cents) AS tot FROM m GROUP BY month),
    d AS (SELECT month, tot,
                 lag(month) OVER (ORDER BY month) AS pm,
                 tot - lag(tot) OVER (ORDER BY month) AS delta
          FROM t),
    pick AS (SELECT month, pm, CAST(delta AS BIGINT) AS total_delta
             FROM d WHERE delta IS NOT NULL
                      AND month = pm + CASE WHEN pm % 100 = 12
                                            THEN 89 ELSE 1 END
             ORDER BY abs(delta) DESC, month LIMIT 1),
    aft AS MATERIALIZED (SELECT m.nk, m.cents
                         FROM pick p JOIN m ON m.month = p.month),
    bef AS MATERIALIZED (SELECT m.nk, m.cents
                         FROM pick p JOIN m ON m.month = p.pm)
    SELECT COALESCE(a.nk, b.nk) AS nationkey,
           CAST(COALESCE(b.cents, 0) AS BIGINT) AS before_cents,
           CAST(COALESCE(a.cents, 0) AS BIGINT) AS after_cents,
           CAST(COALESCE(a.cents, 0) - COALESCE(b.cents, 0) AS BIGINT)
             AS delta_cents,
           p.total_delta
    FROM aft a FULL OUTER JOIN bef b ON a.nk = b.nk
    CROSS JOIN pick p
    """,
)
def q247_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue BRIDGE for the sharpest month-over-month move: find
    the adjacent-month pair with the largest total swing (calendar
    -consecutive only; the Dec->Jan key gap is handled in integers),
    then decompose that swing into per-nation deltas — the
    'why did the metric move' root-cause table every metrics tree
    renders.  The pick is a deterministic 1-row TakeOrdered
    broadcast; the decomposition is a full-outer self-join of the
    monthly aggregate at the two picked months (nations absent from
    one side surface as pure adds/drops, not silently vanish); the
    per-nation deltas sum EXACTLY to the total swing (pinned)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    m = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("month"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            )
        )
    )
    t = m.groupBy("month").agg(F.sum("cents").alias("tot"))
    w = Window.orderBy("month")
    d = t.select(
        "month",
        F.lag("month").over(w).alias("pm"),
        (F.col("tot") - F.lag("tot").over(w)).alias("delta"),
    ).filter(
        F.col("delta").isNotNull()
        & (
            F.col("month")
            == F.col("pm")
            + F.when(F.col("pm") % 100 == 12, 89).otherwise(1)
        )
    )
    pick = (
        d.select("month", "pm", F.col("delta").cast("long").alias("total_delta"))
        .orderBy(F.abs(F.col("delta")).desc(), "month")
        .limit(1)
    )
    a = m.select(
        F.col("month").alias("ma"), F.col("nk").alias("nka"),
        F.col("cents").alias("ca"),
    )
    b = m.select(
        F.col("month").alias("mb"), F.col("nk").alias("nkb"),
        F.col("cents").alias("cb"),
    )
    after = pick.select("month").join(a, F.col("ma") == F.col("month")).select(
        "nka", "ca"
    )
    before = pick.select("pm").join(b, F.col("mb") == F.col("pm")).select(
        "nkb", "cb"
    )
    j = after.join(before, F.col("nka") == F.col("nkb"), "full_outer")
    return j.crossJoin(F.broadcast(pick.select("total_delta"))).select(
        F.coalesce(F.col("nka"), F.col("nkb")).alias("nationkey"),
        F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("before_cents"),
        F.coalesce(F.col("ca"), F.lit(0)).cast("long").alias("after_cents"),
        (
            F.coalesce(F.col("ca"), F.lit(0))
            - F.coalesce(F.col("cb"), F.lit(0))
        )
        .cast("long")
        .alias("delta_cents"),
        "total_delta",
    )


@register(
    "q248_sql_udf_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS revenue_e4,
           CAST(sum(CASE WHEN CAST(floor(l_discount * 100 + 0.5) AS BIGINT) >= 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_deep_discount
    FROM lineitem GROUP BY 1, 2
    """,
)
def q248_sql_udf_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q1 rollup THROUGH DECLARED SQL FUNCTIONS: ``rev_e4`` and
    ``is_deep_discount`` are CREATE TEMPORARY FUNCTION SQL UDFs —
    the semantic layer every BI deployment wants (define revenue
    once, reuse everywhere) — and because they are SQL-body
    functions Catalyst INLINES them into codegen: zero UDF overhead,
    full pushdown, plan identical to hand-inlined expressions
    (pinned: no Python/BatchEval anywhere).  The oracle runs the
    inlined form, which is exactly the claim."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION rev_e4(price DOUBLE,"
        " disc DOUBLE) RETURNS BIGINT RETURN"
        " CAST(floor(price * 100 + 0.5) AS BIGINT)"
        " * (100 - CAST(floor(disc * 100 + 0.5) AS BIGINT))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_deep_discount(disc DOUBLE)"
        " RETURNS INT RETURN"
        " CASE WHEN CAST(floor(disc * 100 + 0.5) AS BIGINT) >= 8 THEN 1 ELSE 0 END"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_udf_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(rev_e4(l_extendedprice, l_discount)) AS BIGINT)
                 AS revenue_e4,
               CAST(sum(is_deep_discount(l_discount)) AS BIGINT)
                 AS n_deep_discount
        FROM _udf_lineitem GROUP BY 1, 2
        """
    )


@register(
    "q249_erasure_manifest",
    """
    WITH forget AS MATERIALIZED (
      SELECT DISTINCT user_id FROM events
      WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) = '0'),
    ev AS (SELECT CAST(count(*) AS BIGINT) AS erase,
                  (SELECT CAST(count(*) AS BIGINT) FROM events) AS total
           FROM events WHERE user_id IN (SELECT user_id FROM forget)),
    od AS (SELECT CAST(count(*) AS BIGINT) AS erase,
                  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS total
           FROM orders WHERE o_custkey IN (SELECT user_id FROM forget)),
    li AS (SELECT CAST(count(*) AS BIGINT) AS erase,
                  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS total
           FROM lineitem WHERE l_orderkey IN
             (SELECT o_orderkey FROM orders
              WHERE o_custkey IN (SELECT user_id FROM forget)))
    SELECT 'events' AS tbl, erase AS n_erase, total AS n_total,
           CAST((erase * 1000000) // total AS BIGINT) AS share_ppm FROM ev
    UNION ALL
    SELECT 'orders', erase, total,
           CAST((erase * 1000000) // total AS BIGINT) FROM od
    UNION ALL
    SELECT 'lineitem', erase, total,
           CAST((erase * 1000000) // total AS BIGINT) FROM li
    """,
)
def q249_erasure_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style ERASURE MANIFEST: given a deterministic forget-set
    (md5-bucketed 1/16th of users — the q58 draw, so retry-stable),
    the row counts each table would lose, INCLUDING the transitive
    reach through orders into lineitem — the blast-radius report a
    privacy pipeline publishes before it deletes anything.  Each
    count is a broadcast semi join (the forget keys and the order
    -key bridge are the only broadcast payloads); nothing is
    deleted — this is the audit, CDC (q67) is the apply."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    forget = (
        ev.select("user_id")
        .distinct()
        .filter(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == "0")
    )
    okeys = orders.join(
        F.broadcast(forget), orders["o_custkey"] == forget["user_id"],
        "left_semi",
    ).select("o_orderkey")

    def manifest(df, erase_df, label):
        e = erase_df.agg(F.count("*").cast("long").alias("n_erase"))
        t = df.agg(F.count("*").cast("long").alias("n_total"))
        return (
            e.crossJoin(F.broadcast(t))
            .select(
                F.lit(label).alias("tbl"),
                "n_erase",
                "n_total",
                F.expr(
                    "CAST((n_erase * 1000000) DIV n_total AS BIGINT)"
                ).alias("share_ppm"),
            )
        )

    ev_erase = ev.join(F.broadcast(forget), "user_id", "left_semi")
    od_erase = orders.join(
        F.broadcast(forget), orders["o_custkey"] == forget["user_id"],
        "left_semi",
    )
    li_erase = li.join(
        F.broadcast(okeys), li["l_orderkey"] == okeys["o_orderkey"],
        "left_semi",
    )
    return (
        manifest(ev, ev_erase, "events")
        .unionByName(manifest(orders, od_erase, "orders"))
        .unionByName(manifest(li, li_erase, "lineitem"))
    )


@register(
    "q250_training_manifest",
    r"""
    WITH surv AS (SELECT min(doc_id) AS doc_id
                  FROM documents
                  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ',
                                                   'g')))),
    kept AS (SELECT d.doc_id,
                    CAST(length(list_filter(string_split_regex(lower(d.text),
                                                               '\s+'),
                                            x -> x <> '')) AS BIGINT)
               AS n_tokens
             FROM documents d JOIN surv s ON d.doc_id = s.doc_id),
    q AS (SELECT doc_id, n_tokens FROM kept WHERE n_tokens >= 20),
    sh AS (SELECT doc_id, n_tokens,
                  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                           1, 8) AS BIGINT) % 8 AS BIGINT)
                    AS shard
           FROM q)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM sh GROUP BY shard
    """,
)
def q250_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 250th entry is the CAPSTONE COMPOSITION: documents ->
    exact-dedup survivors (min doc_id per whitespace-normalized md5
    fingerprint, q11/q22's keep-rule) -> minimum-length quality gate
    (>= 20 tokens, the q21 token contract) -> deterministic md5
    shard assignment (8 shards, q58's hash draw) -> per-shard
    MANIFEST (doc count, token sum, id range) — the one-page summary
    a training run reads to plan its data loader.  Three partial
    -aggregated exchanges end to end (fingerprint, survivor join,
    shard rollup); every stage reuses a contract already pinned by
    its own query, so this is integration, not new semantics."""
    from .functions.textfn import normalize_ws, tokenize

    docs = load_table(spark, sf_dir, "documents")
    surv = docs.groupBy(F.md5(normalize_ws(F.col("text"))).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = docs.join(
        surv.select("doc_id"), "doc_id", "left_semi"
    ).select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    q = kept.filter(F.col("n_tokens") >= 20)
    sh = q.select(
        "doc_id",
        "n_tokens",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                   16, 10).cast("long")
            % 8
        ).alias("shard"),
    )
    return sh.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


@register(
    "q251_asof_nearest",
    """
    WITH g AS (SELECT e.event_id, e.user_id,
                      CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
                      CAST(epoch(max(CASE WHEN o.o_orderdate <= e.ts
                                          THEN o.o_orderdate END))
                           AS BIGINT) AS back,
                      CAST(epoch(min(CASE WHEN o.o_orderdate >= e.ts
                                          THEN o.o_orderdate END))
                           AS BIGINT) AS fwd
               FROM events e LEFT JOIN orders o
                 ON o.o_custkey = e.user_id + 1
               GROUP BY 1, 2, 3),
    pick AS (SELECT event_id, user_id, ts_s,
                    CASE WHEN back IS NULL THEN fwd
                         WHEN fwd IS NULL THEN back
                         WHEN fwd - ts_s < ts_s - back THEN fwd
                         ELSE back END AS nearest
             FROM g)
    SELECT event_id, user_id,
           CAST(nearest AS BIGINT) AS nearest_order_epoch,
           CAST(abs(ts_s - nearest) AS BIGINT) AS gap_s
    FROM pick
    """,
)
def q251_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — |gap|-minimizing, backward on ties —
    via :func:`operators.windows.asof_join_nearest`: both direction
    carries share ONE union + ONE exchange (the oracle's
    conditional-aggregate form re-probes orders per event, which is
    exactly what the union-sort-carry avoids at scale).  Completes
    the as-of family: q26 backward, q81 forward, q48 tolerance,
    this nearest."""
    from .operators.windows import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return asof_join_nearest(ev, orders)


@register(
    "q252_rolling_correlation",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CASE WHEN o_orderpriority = '1-URGENT'
                               THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                               ELSE 0 END) AS x,
                      sum(CASE WHEN o_orderpriority = '5-LOW'
                               THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                               ELSE 0 END) AS y
               FROM orders GROUP BY 1),
    w AS (SELECT day,
                 CAST(count(*) OVER win AS HUGEINT) AS n,
                 CAST(sum(x) OVER win AS HUGEINT) AS sx,
                 CAST(sum(y) OVER win AS HUGEINT) AS sy,
                 sum(CAST(x AS HUGEINT) * x) OVER win AS sxx,
                 sum(CAST(y AS HUGEINT) * y) OVER win AS syy,
                 sum(CAST(x AS HUGEINT) * y) OVER win AS sxy,
                 row_number() OVER (ORDER BY day) AS i
          FROM d WINDOW win AS (ORDER BY day
                                ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
    SELECT day,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN NULL
                ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                                  * CAST((n * syy - sy * sy) AS DOUBLE)), 6)
           END AS corr30
    FROM w WHERE i >= 30
    """,
)
def q252_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day ROLLING correlation between urgent-priority and
    low-priority daily revenue — the co-movement monitor (a regime
    where the two decouple is a demand-mix shift q123's univariate
    z-score cannot see).  All five moments ride ONE ordered window
    over the daily aggregate as DECIMAL/HUGEINT integers (squares of
    daily cents graze 2e18 — the q243 promotion applied in-window);
    each day's r is the fixed five-moment expression with an
    explicit zero-variance NULL guard on BOTH engines.  Warm-up
    days (rank < 30) are excluded by rank, not nullness."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", cents).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("o_orderpriority") == "5-LOW", cents).otherwise(0)
        ).alias("y"),
    )
    win = Window.orderBy("day").rowsBetween(-29, 0)
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    w = d.select(
        "day",
        F.count("*").over(win).cast("decimal(38,0)").alias("n"),
        F.sum("x").over(win).cast("decimal(38,0)").alias("sx"),
        F.sum("y").over(win).cast("decimal(38,0)").alias("sy"),
        F.sum(dx * dx).over(win).alias("sxx"),
        F.sum(dy * dy).over(win).alias("syy"),
        F.sum(dx * dy).over(win).alias("sxy"),
        F.row_number().over(Window.orderBy("day")).alias("i"),
    )
    return w.filter(F.col("i") >= 30).selectExpr(
        "day",
        "CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0"
        " THEN NULL"
        " ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)"
        "        * CAST((n * syy - sy * sy) AS DOUBLE)), 6)"
        " END AS corr30",
    )


@register(
    "q253_class_separation",
    """
    WITH x AS MATERIALIZED (
      SELECT vec_id, label, g.i AS i,
             CAST(embedding[g.i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, 64) g(i)),
    cent AS MATERIALIZED (
      SELECT label, i, avg(val) AS c FROM x GROUP BY 1, 2),
    dist AS (SELECT x.vec_id, x.label,
                    sqrt(sum((x.val - cent.c) * (x.val - cent.c))) AS d
             FROM x JOIN cent ON x.label = cent.label AND x.i = cent.i
             GROUP BY 1, 2),
    intra AS (SELECT label, avg(d) AS intra, count(*) AS n
              FROM dist GROUP BY label),
    cd AS (SELECT a.label AS la, b.label AS lb,
                  sqrt(sum((a.c - b.c) * (a.c - b.c))) AS d
           FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
           GROUP BY 1, 2),
    inter AS (SELECT la AS label, min(d) AS inter FROM cd GROUP BY la)
    SELECT i.label, CAST(i.n AS BIGINT) AS n_vecs,
           ROUND(i.intra, 6) AS intra_dist,
           ROUND(t.inter, 6) AS nearest_other_centroid,
           ROUND(i.intra / t.inter, 6) AS separation_ratio
    FROM intra i JOIN inter t ON i.label = t.label
    """,
)
def q253_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space CLASS SEPARATION audit: per label, the mean
    distance to its own centroid against the distance to the nearest
    OTHER centroid — a silhouette-style ratio (> 1 means the class
    cloud is wider than the gap to its neighbor: expect classifier
    confusion exactly where q158's matrix shows it).  Centroids are
    q94's flat (label, dim) aggregate; vector-to-centroid distances
    are one explode-join-aggregate (linear in dims, q225's shape);
    the 10x10 centroid-pair table is trivially small.  Floats enter
    only through avg/sqrt on the fixed expressions, rounded once."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i", "valf"),
    ).select(
        "vec_id", "label", "i", F.col("valf").cast("double").alias("val")
    )
    cent = x.groupBy("label", "i").agg(F.avg("val").alias("c"))
    dist = (
        x.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")))
            ).alias("d")
        )
    )
    intra = dist.groupBy("label").agg(
        F.avg("d").alias("intra"), F.count("*").alias("n")
    )
    a = cent.select(
        F.col("label").alias("la"), "i", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("lb"), F.col("i").alias("ib"),
        F.col("c").alias("cb"),
    )
    cd = (
        a.join(
            F.broadcast(b),
            (F.col("i") == F.col("ib")) & (F.col("la") != F.col("lb")),
        )
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            ).alias("d")
        )
    )
    inter = cd.groupBy(F.col("la").alias("label")).agg(
        F.min("d").alias("inter")
    )
    return intra.join(inter, "label").select(
        "label",
        F.col("n").cast("long").alias("n_vecs"),
        F.round(F.col("intra"), 6).alias("intra_dist"),
        F.round(F.col("inter"), 6).alias("nearest_other_centroid"),
        F.round(F.col("intra") / F.col("inter"), 6).alias(
            "separation_ratio"
        ),
    )


@register(
    "q254_diversified_topk",
    """
    WITH pr AS (SELECT p.p_brand AS brand, l.l_partkey AS part,
                       sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                           * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                         AS BIGINT))) AS e4
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                GROUP BY 1, 2),
    br AS (SELECT brand, part, e4,
                  row_number() OVER (PARTITION BY brand
                                     ORDER BY e4 DESC, part) AS brand_rank
           FROM pr),
    cap AS (SELECT brand, part, CAST(e4 AS BIGINT) AS revenue_e4, brand_rank
            FROM br WHERE brand_rank <= 2)
    SELECT brand, part, revenue_e4, CAST(brand_rank AS BIGINT) AS brand_rank
    FROM cap ORDER BY revenue_e4 DESC, part LIMIT 10
    """,
)
def q254_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSIFIED top-k: the 10 highest-revenue parts with AT MOST
    2 PER BRAND — the constraint every recommender/search layer adds
    so one dominant family doesn't fill the page, and a shape plain
    TakeOrdered cannot express.  Two nested ranks: a brand-partitioned
    window caps each brand at its best 2 (cheap — runs on the
    per-part aggregate), then a global TakeOrdered(10) over the
    survivors (at most 2x|brands| rows reach it).  Both cuts carry
    deterministic (revenue desc, part) tie-breaks."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    pr = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"), F.col("l_partkey").alias("part")
        )
        .agg(F.sum(e4).alias("e4"))
    )
    br = pr.withColumn(
        "brand_rank",
        F.row_number().over(
            Window.partitionBy("brand").orderBy(F.col("e4").desc(), "part")
        ),
    )
    cap = br.filter(F.col("brand_rank") <= 2).select(
        "brand",
        "part",
        F.col("e4").cast("long").alias("revenue_e4"),
        F.col("brand_rank").cast("long").alias("brand_rank"),
    )
    return cap.orderBy(F.col("revenue_e4").desc(), "part").limit(10)


@register(
    "q255_transition_dwell",
    """
    WITH seqd AS (SELECT user_id, event_type AS a,
                         lead(event_type) OVER w AS b,
                         lead(CAST(epoch_us(ts) AS BIGINT)) OVER w
                           - CAST(epoch_us(ts) AS BIGINT) AS dwell_us
                  FROM events
                  WINDOW w AS (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id)),
    t AS (SELECT a, b, dwell_us // 1000000 AS dwell_s
          FROM seqd WHERE b IS NOT NULL),
    h AS (SELECT a, b, dwell_s, CAST(count(*) AS BIGINT) AS cnt
          FROM t GROUP BY 1, 2, 3),
    cum AS (SELECT a, b, dwell_s, cnt,
                   sum(cnt) OVER (PARTITION BY a, b ORDER BY dwell_s
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY a, b) AS n
            FROM h)
    SELECT a AS from_type, b AS to_type, CAST(max(n) AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN 2 * cum >= n THEN dwell_s END) AS BIGINT)
             AS median_dwell_s,
           CAST(min(CASE WHEN 10 * cum >= 9 * n THEN dwell_s END) AS BIGINT)
             AS p90_dwell_s
    FROM cum GROUP BY a, b
    """,
)
def q255_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWELL TIME per event transition: the median and p90 seconds
    between each (from, to) event pair — q120 says WHERE users go,
    q242 says how predictably, this says HOW LONG they linger on the
    way (the latency surface behind 'users stall between click and
    purchase').  One lead() window builds (pair, dwell), and the
    quantiles are per-pair histogram crossings over whole seconds —
    state bounded by the dwell range, the q133 recipe on its fourth
    reuse (which is the point: one exact-quantile tool, many
    metrics)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    seqd = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
        (F.lead(us).over(w) - us).alias("dwell_us"),
    ).filter(F.col("b").isNotNull())
    t = seqd.selectExpr("a", "b", "dwell_us DIV 1000000 AS dwell_s")
    h = t.groupBy("a", "b", "dwell_s").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("a", "b")
        .orderBy("dwell_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "a",
        "b",
        "dwell_s",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("a", "b")).alias("n"),
    )
    return cum.groupBy(
        F.col("a").alias("from_type"), F.col("b").alias("to_type")
    ).agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("dwell_s")))
        .cast("long")
        .alias("median_dwell_s"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("dwell_s")))
        .cast("long")
        .alias("p90_dwell_s"),
    )


@register(
    "q256_two_measure_pivot",
    """
    SELECT c.c_nationkey AS nationkey,
           CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                         THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS urgent_cents,
           CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1
                         ELSE 0 END) AS BIGINT) AS urgent_n,
           CAST(sum(CASE WHEN o.o_orderpriority = '3-MEDIUM'
                         THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS medium_cents,
           CAST(sum(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1
                         ELSE 0 END) AS BIGINT) AS medium_n,
           CAST(sum(CASE WHEN o.o_orderpriority = '5-LOW'
                         THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS low_cents,
           CAST(sum(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1
                         ELSE 0 END) AS BIGINT) AS low_n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q256_two_measure_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-MEASURE pivot: revenue AND order count per nation, spread
    across three priority columns — q54 pivots one measure; real
    reports need several, and Spark's ``pivot()`` with a multi-agg
    suffixes generated column names unpredictably across versions,
    so the portable form is explicit conditional aggregation (ALSO
    the faster plan: one partial aggregate, no pivot analysis pass;
    column names owned by the query, which is what makes the oracle
    contract possible at all)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        orders["o_custkey"] == F.col("c_custkey"),
    )
    pri = F.col("o_orderpriority")

    def m(p, name):
        return [
            F.sum(F.when(pri == p, cents).otherwise(0))
            .cast("long")
            .alias(f"{name}_cents"),
            F.sum(F.when(pri == p, 1).otherwise(0))
            .cast("long")
            .alias(f"{name}_n"),
        ]

    return j.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        *m("1-URGENT", "urgent"), *m("3-MEDIUM", "medium"), *m("5-LOW", "low")
    )


@register(
    "q257_bitmap_rollup_weekly",
    """
    WITH du AS (SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
                       CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                       count(DISTINCT user_id) AS dau
                FROM events GROUP BY 1, 2)
    SELECT du.week,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events e
            WHERE CAST(floor(epoch(e.ts) / 604800) AS BIGINT) = du.week)
             AS wau,
           CAST(sum(du.dau) AS BIGINT) AS dau_sum
    FROM du GROUP BY du.week
    """,
)
def q257_bitmap_rollup_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap ROLLUP: weekly distinct users computed by OR-merging
    the DAILY bitmap words — the day->week rollup costs one more
    bit_or pass over words, NEVER a rescan of events — while the
    daily popcounts sum alongside from the same words (q209's
    stickiness inputs from one event read).  This is the mergeability
    that makes bitmap distinct the warehouse standard: COUNT
    DISTINCT at N grains = N scans; bitmap words = 1 scan + N word
    merges.  The oracle recomputes both grains naively — matching
    proves the OR algebra collapses duplicates exactly."""
    ev = load_table(spark, sf_dir, "events")
    words = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / F.lit(604800))
            .cast("long")
            .alias("week"),
            F.floor(F.unix_timestamp("ts") / F.lit(86400))
            .cast("long")
            .alias("day"),
            F.expr("user_id div 64").alias("w"),
            F.expr("shiftleft(1L, cast(user_id % 64 AS INT))").alias("bit"),
        )
        .groupBy("week", "day", "w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    daily = words.groupBy("week", "day").agg(
        F.sum(F.bit_count("bits")).alias("dau")
    )
    weekly_words = words.groupBy("week", "w").agg(
        F.bit_or("bits").alias("bits")
    )
    weekly = weekly_words.groupBy("week").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("wau")
    )
    dsum = daily.groupBy("week").agg(
        F.sum("dau").cast("long").alias("dau_sum")
    )
    return weekly.join(dsum, "week")


@register(
    "q258_catalog_search",
    """
    WITH s AS (SELECT p_partkey, p_name, p_brand,
                      (CASE WHEN contains(p_name, 'red') THEN 1 ELSE 0 END
                       + CASE WHEN contains(p_name, 'small') THEN 1
                              ELSE 0 END
                       + CASE WHEN contains(p_name, 'gear') THEN 1
                              ELSE 0 END) AS score
               FROM part)
    SELECT p_partkey, p_name, p_brand, CAST(score AS BIGINT) AS score
    FROM s WHERE score >= 2
    ORDER BY score DESC, p_partkey LIMIT 20
    """,
)
def q258_catalog_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term catalog search with match-count relevance: parts
    whose names hit at least 2 of the 3 query terms, best first —
    the boolean-retrieval baseline (BM25's q59 ranks a text corpus;
    dimension attributes want this cheaper form).  Term tests are
    scan-side ``contains`` in codegen (the dictionary-encoded
    parquet column never decompresses non-candidates far), the
    score is their integer sum, and the cut is TakeOrdered with a
    partkey tie-break."""
    part = load_table(spark, sf_dir, "part")
    score = (
        F.when(F.col("p_name").contains("red"), 1).otherwise(0)
        + F.when(F.col("p_name").contains("small"), 1).otherwise(0)
        + F.when(F.col("p_name").contains("gear"), 1).otherwise(0)
    )
    s = part.select(
        "p_partkey", "p_name", "p_brand", score.cast("long").alias("score")
    )
    return (
        s.filter(F.col("score") >= 2)
        .orderBy(F.col("score").desc(), "p_partkey")
        .limit(20)
    )


@register(
    "q259_weekday_index",
    """
    WITH d AS (SELECT (CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) + 4)
                        % 7 AS dow,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    a AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
                 sum(cents) AS rev FROM d GROUP BY dow),
    t AS (SELECT sum(rev) AS tot FROM a)
    SELECT dow, n, CAST(rev AS BIGINT) AS rev_cents,
           CAST((CAST(rev AS HUGEINT) * 7000) // tot AS BIGINT)
             AS index_permille_x7
    FROM a, t
    """,
)
def q259_weekday_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week revenue index: each weekday's revenue scaled so a
    flat calendar scores 1000 (rev*7*1000/total) — the seasonality
    fold at the week grain (q221 folds months, q169 folds hours).
    The weekday comes from PURE INTEGER arithmetic ((epoch_day+4)%7,
    0=Sunday..6=Saturday) — never from dayofweek()-style functions whose
    locale/first-day conventions differ BETWEEN engines; the index
    is integer permille with the x7 folded in (DECIMAL against the
    q198 overflow class)."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        (
            (
                F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
                .cast("long")
                + 4
            )
            % 7
        ).alias("dow"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    a = d.groupBy("dow").agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").alias("rev")
    )
    t = a.agg(F.sum("rev").alias("tot"))
    return a.crossJoin(F.broadcast(t)).selectExpr(
        "dow", "n", "CAST(rev AS BIGINT) AS rev_cents",
        "CAST((CAST(rev AS DECIMAL(38,0)) * 7000) DIV tot AS BIGINT)"
        " AS index_permille_x7",
    )


@register(
    "q260_customer_concentration",
    """
    WITH sp AS (SELECT o_custkey,
                       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s
                FROM orders GROUP BY 1),
    r AS (SELECT s, row_number() OVER (ORDER BY s DESC, o_custkey) AS rk,
                 sum(s) OVER () AS tot
          FROM sp),
    cuts AS (SELECT unnest([1, 10, 100]) AS n_top)
    SELECT c.n_top,
           CAST(sum(r.s) AS BIGINT) AS top_cents,
           CAST((CAST(sum(r.s) AS HUGEINT) * 1000000) // max(r.tot)
                AS BIGINT) AS share_ppm
    FROM cuts c JOIN r ON r.rk <= c.n_top
    GROUP BY c.n_top
    """,
)
def q260_customer_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration at fixed head sizes: the share held by
    the top 1 / 10 / 100 customers — the 'how few whales' readout a
    sales org tracks (q190's Pareto cuts by percentile; boards ask
    by COUNT).  One rank window over the per-customer aggregate with
    the deterministic (spend, custkey) order, a 3-row cut table
    joined on rank, integer ppm shares in DECIMAL/HUGEINT."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    sp = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("s")
    )
    r = sp.select(
        "s",
        F.row_number()
        .over(Window.orderBy(F.col("s").desc(), "o_custkey"))
        .alias("rk"),
        F.sum("s")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("tot"),
    )
    cuts = r.sparkSession.createDataFrame(
        [(1,), (10,), (100,)], "n_top long"
    )
    return (
        F.broadcast(cuts)
        .join(r, r["rk"] <= cuts["n_top"])
        .groupBy("n_top")
        .agg(
            F.sum("s").cast("long").alias("top_cents"),
            F.expr(
                "CAST((CAST(sum(s) AS DECIMAL(38,0)) * 1000000)"
                " DIV max(tot) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


@register(
    "q261_interval_coverage",
    """
    WITH iv AS (SELECT user_id,
                       CAST(epoch_us(ts) AS BIGINT) - 900000000 AS s,
                       CAST(epoch_us(ts) AS BIGINT) + 900000000 AS e,
                       event_id
                FROM events),
    m AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_max
          FROM iv),
    b AS (SELECT user_id, s, e,
                 sum(CASE WHEN prev_max IS NULL OR s > prev_max
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS UNBOUNDED PRECEDING) AS block
          FROM m),
    blk AS (SELECT user_id, block, min(s) AS bs, max(e) AS be
            FROM b GROUP BY 1, 2)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(be - bs) // 1000000 AS BIGINT) AS covered_s
    FROM blk GROUP BY user_id
    """,
)
def q261_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL MERGE: each event projects a ±15-minute presence
    window; overlaps coalesce and the query reports each user's
    merged block count and total covered seconds — the union-length
    problem (uptime from heartbeats, speech from voice frames) that
    naive sum-of-durations double-counts.  The merge is the
    gaps-and-islands trick generalized to intervals: a running
    max(end) over EARLIER rows detects 'starts after everything so
    far ended', a cumulative sum labels blocks, one aggregate per
    block — no self-join, one user-partitioned sort, exact epoch
    micros."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = ev.select(
        "user_id",
        (us - 900_000_000).alias("s"),
        (us + 900_000_000).alias("e"),
        "event_id",
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.select(
        "user_id", "s", "e", F.max("e").over(wprev).alias("prev_max")
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = m.select(
        "user_id",
        "s",
        "e",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .over(wcum)
        .alias("block"),
    )
    blk = b.groupBy("user_id", "block").agg(
        F.min("s").alias("bs"), F.max("e").alias("be")
    )
    return blk.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.expr("CAST(sum(be - bs) DIV 1000000 AS BIGINT)").alias(
            "covered_s"
        ),
    )


@register(
    "q262_sketch_agreement",
    f"""
    WITH sh0 AS ({_SQL_SHINGLE3}),
    seeds AS (SELECT unnest(['0','1','2','3','4','5','6','7']) AS seed),
    sig AS MATERIALIZED (
      SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS mh
      FROM sh0 CROSS JOIN seeds GROUP BY doc_id, seed),
    mh AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.seed = b.seed AND a.mh = b.mh
                           AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    s AS ({_SQL_SIMHASH}),
    bands AS (SELECT doc_id, simhash,
                     (simhash >> (15 * j)) & 32767 AS band, j
              FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u),
    sim AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
    u AS (SELECT COALESCE(m.doc_a, s2.doc_a) AS doc_a,
                 CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_mh,
                 CASE WHEN s2.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_sh
          FROM mh m FULL OUTER JOIN sim s2
            ON m.doc_a = s2.doc_a AND m.doc_b = s2.doc_b)
    SELECT CAST(sum(in_mh) AS BIGINT) AS minhash_pairs,
           CAST(sum(in_sh) AS BIGINT) AS simhash_pairs,
           CAST(sum(in_mh * in_sh) AS BIGINT) AS agreed_pairs
    FROM u
    """,
)
def q262_sketch_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the two near-dup sketches AGREE?  MinHash-LSH candidates
    (q16, Jaccard-sensitive) against SimHash band survivors (q39,
    Hamming-sensitive) as a 1-row overlap census — the
    sketch-selection experiment a dedup pipeline runs once per
    corpus type (they hash DIFFERENT similarity notions, so
    divergence here is signal about the corpus, not a bug in
    either; q186 calibrates MinHash against truth, this calibrates
    the sketches against each other).  One full-outer join of the
    two pair sets, flag sums — counts only, no pair explosion
    survives the aggregate."""
    from .operators.dedup import lsh_candidate_pairs, simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    mh = lsh_candidate_pairs(docs, on_overflow="error").select(
        "doc_a", "doc_b"
    )
    sh = simhash_neardup_pairs(docs, on_overflow="error").select(
        "doc_a", "doc_b"
    )
    u = mh.withColumn("in_mh", F.lit(1)).join(
        sh.withColumn("in_sh", F.lit(1)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    return u.agg(
        F.sum(F.coalesce(F.col("in_mh"), F.lit(0)))
        .cast("long")
        .alias("minhash_pairs"),
        F.sum(F.coalesce(F.col("in_sh"), F.lit(0)))
        .cast("long")
        .alias("simhash_pairs"),
        F.sum(
            F.coalesce(F.col("in_mh"), F.lit(0))
            * F.coalesce(F.col("in_sh"), F.lit(0))
        )
        .cast("long")
        .alias("agreed_pairs"),
    )


@register(
    "q263_linear_attribution",
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                      CAST(epoch_us(ts) AS BIGINT) AS us
               FROM events),
    m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS sid
          FROM m),
    fp AS (SELECT user_id, sid,
                  min(CASE WHEN event_type = 'purchase' THEN us END) AS pus,
                  sum(CASE WHEN event_type = 'purchase' THEN cents
                           ELSE 0 END) AS pval
           FROM s GROUP BY 1, 2),
    touches AS (SELECT s.user_id, s.sid, s.event_type, s.us, s.event_id,
                       f.pval,
                       row_number() OVER (PARTITION BY s.user_id, s.sid
                                          ORDER BY s.us, s.event_id) AS rn,
                       count(*) OVER (PARTITION BY s.user_id, s.sid) AS nt
                FROM s JOIN fp f ON s.user_id = f.user_id AND s.sid = f.sid
                WHERE f.pus IS NOT NULL AND s.us < f.pus),
    credit AS (SELECT event_type,
                      (pval * 1000) // nt
                        + CASE WHEN rn <= (pval * 1000) % nt
                               THEN 1 ELSE 0 END AS c
               FROM touches)
    SELECT event_type AS touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(c) AS BIGINT) AS credit_millicents
    FROM credit GROUP BY event_type
    """,
)
def q263_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution with EXACT division: each
    session's purchase value splits equally across the touches
    before its first purchase — in millicents via floor shares plus
    largest-remainder (+1 to the earliest (pval*1000 % nt) touches,
    the q226 apportionment INSIDE a window) — so per-session credits
    re-sum to exactly pval*1000 and the company-wide attribution
    ledger BALANCES to the cent, which float splitting never does.
    First-touch (q132) gives all credit to one event; this is the
    fair-share ledger built from the same session contract."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = e.withColumn(
        "sid",
        F.sum(
            F.when(
                F.lag("us").over(w).isNull()
                | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
                1,
            ).otherwise(0)
        ).over(w),
    )
    fp = s.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("pus"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                0
            )
        ).alias("pval"),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    touches = (
        s.join(fp, ["user_id", "sid"])
        .filter(F.col("pus").isNotNull() & (F.col("us") < F.col("pus")))
        .select(
            "event_type",
            "pval",
            F.row_number().over(ws).alias("rn"),
            F.count("*").over(Window.partitionBy("user_id", "sid")).alias(
                "nt"
            ),
        )
    )
    credit = touches.selectExpr(
        "event_type",
        "(pval * 1000) DIV nt"
        " + CASE WHEN rn <= (pval * 1000) % nt THEN 1 ELSE 0 END AS c",
    )
    return credit.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum("c").cast("long").alias("credit_millicents"),
    )


@register(
    "q264_trade_balance",
    """
    WITH exp AS (SELECT s.s_nationkey AS nk,
                        sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                            * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                          AS BIGINT))) AS e4
                 FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 GROUP BY 1),
    imp AS (SELECT c.c_nationkey AS nk,
                   sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                     AS BIGINT))) AS e4
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1)
    SELECT COALESCE(e.nk, i.nk) AS nationkey,
           CAST(COALESCE(e.e4, 0) AS BIGINT) AS exports_e4,
           CAST(COALESCE(i.e4, 0) AS BIGINT) AS imports_e4,
           CAST(COALESCE(e.e4, 0) - COALESCE(i.e4, 0) AS BIGINT)
             AS balance_e4
    FROM exp e FULL OUTER JOIN imp i ON e.nk = i.nk
    """,
)
def q264_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation TRADE BALANCE: revenue its suppliers ship out
    (exports) against revenue its customers pull in (imports), both
    in the same exact e4 units so the balance is a clean integer
    subtraction — the two-role nation view q210 samples for one pair,
    totalled for all 25 (and globally the balances must sum to ZERO,
    pinned in tests — every shipment is someone's import).  Two fact
    aggregates (one direct supplier join, one through orders) meet
    in a 25-row full outer."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    exp = (
        li.join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.sum(e4).alias("exp_e4"))
    )
    imp = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk2"))
        .agg(F.sum(e4).alias("imp_e4"))
    )
    j = exp.join(imp, exp["nk"] == imp["nk2"], "full_outer")
    return j.select(
        F.coalesce(F.col("nk"), F.col("nk2")).alias("nationkey"),
        F.coalesce(F.col("exp_e4"), F.lit(0)).cast("long").alias(
            "exports_e4"
        ),
        F.coalesce(F.col("imp_e4"), F.lit(0)).cast("long").alias(
            "imports_e4"
        ),
        (
            F.coalesce(F.col("exp_e4"), F.lit(0))
            - F.coalesce(F.col("imp_e4"), F.lit(0))
        )
        .cast("long")
        .alias("balance_e4"),
    )


@register(
    "q265_langid_confusion",
    f"""
    WITH lex AS (SELECT * FROM (VALUES {_lex_values()}) AS t(w, lg)),
    tok AS (SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS w
            FROM documents),
    hits AS (SELECT t.doc_id, l.lg, COUNT(*) AS c
             FROM tok t JOIN lex l ON t.w = l.w GROUP BY 1, 2),
    best AS (SELECT doc_id, lg,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY c DESC, lg ASC) AS rn
             FROM hits),
    pred AS (SELECT d.doc_id, d.lang AS true_lang,
                    COALESCE(b.lg, 'und') AS pred_lang
             FROM documents d
             LEFT JOIN (SELECT doc_id, lg FROM best WHERE rn = 1) b
               USING (doc_id))
    SELECT true_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def q265_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX for the q19 language detector against the
    fixture's ground-truth ``lang`` labels — the eval every
    classifier in the pipeline owes its users (q158 evaluates the
    Naive Bayes; the cheap lexicon detector deserves the same
    scrutiny, and its off-diagonal mass shows exactly which language
    pairs the function-word lexicons cannot separate).  The
    prediction pass is q19 verbatim; one extra 2-key aggregate
    produces the matrix."""
    from .operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs).select(
        "doc_id", F.col("lang").alias("true_lang"), "lang_pred"
    )
    return pred.groupBy(
        "true_lang", F.col("lang_pred").alias("pred_lang")
    ).agg(F.count("*").cast("long").alias("n_docs"))


@register(
    "q266_lsh_tuning_curve",
    f"""
    WITH sh0 AS MATERIALIZED ({_SQL_SHINGLE3}),
    seeds AS (SELECT unnest(['0','1','2','3','4','5','6','7']) AS seed),
    sig AS MATERIALIZED (
      SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS mh
      FROM sh0 CROSS JOIN seeds GROUP BY doc_id, seed),
    cand AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_bands
      FROM sig a JOIN sig b ON a.seed = b.seed AND a.mh = b.mh
                           AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sz AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                        FROM sh0 GROUP BY doc_id),
    ex AS (SELECT c.doc_a, c.doc_b, c.n_bands,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM cand c
           JOIN sh0 sa ON sa.doc_id = c.doc_a
           JOIN sh0 sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
           GROUP BY 1, 2, 3),
    scored AS (SELECT e.n_bands,
                      CASE WHEN (e.n_common * 1000)
                             // (za.n + zb.n - e.n_common) >= 200
                           THEN 1 ELSE 0 END AS is_true
               FROM ex e JOIN sz za ON e.doc_a = za.doc_id
                         JOIN sz zb ON e.doc_b = zb.doc_id)
    SELECT n_bands,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_true) AS BIGINT) AS n_true,
           CAST((sum(is_true) * 1000) // count(*) AS BIGINT)
             AS precision_permille
    FROM scored GROUP BY n_bands
    """,
)
def q266_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH TUNING CURVE: candidate precision as a function of the
    min-bands threshold — for each band-collision count (1..8), how
    many pairs surface and what fraction are TRUE near-dups (exact
    Jaccard >= 0.2, rescored with q236's evidence join) — the
    one-table answer to 'which min_bands should I run?' (q16
    hard-codes 2; this shows what 1 or 3 would have bought).  The
    exact rescoring touches only band-sharing pairs; one census
    aggregate per threshold value, thresholds read off the same
    n_bands column, no re-runs."""
    from .operators.dedup import lsh_candidate_pairs, shingles

    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(docs, min_bands=1, on_overflow="error")
    # one lazy cut: the shingle set feeds the size aggregate and BOTH
    # evidence-join legs — without it the tokenize+gram scan re-executes
    # 3x (the r6 single-upstream-pass rule; r8 review)
    sh = (
        shingles(docs.select("doc_id", "text"))
        .select("doc_id", "shingle")
        .localCheckpoint(eager=False)
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sh_b"))
    ex = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("sh_a") == F.col("sh_b"))
        .groupBy("doc_a", "doc_b", "n_bands")
        .agg(F.count("*").alias("n_common"))
    )
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = (
        ex.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .selectExpr(
            "n_bands",
            "CASE WHEN (n_common * 1000) DIV (na + nb - n_common) >= 200"
            " THEN 1 ELSE 0 END AS is_true",
        )
    )
    return scored.groupBy("n_bands").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("is_true").cast("long").alias("n_true"),
        F.expr(
            "CAST((sum(is_true) * 1000) DIV count(*) AS BIGINT)"
        ).alias("precision_permille"),
    )


@register(
    "q267_mix_drift",
    """
    WITH wk AS (SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
                       event_type,
                       CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
    wt AS (SELECT week, sum(c) AS n FROM wk GROUP BY week),
    base AS (SELECT event_type, c AS c0,
                    (SELECT n FROM wt WHERE week =
                      (SELECT min(week) FROM wt)) AS n0
             FROM wk WHERE week = (SELECT min(week) FROM wk)),
    j AS (SELECT wk.week, wk.event_type, wk.c, wt.n, b.c0, b.n0
          FROM wk JOIN wt USING (week)
          JOIN base b ON wk.event_type = b.event_type
          WHERE wk.week > (SELECT min(week) FROM wk))
    SELECT week,
           ROUND(sum((CAST(c AS DOUBLE) / n - CAST(c0 AS DOUBLE) / n0)
                     * ln((CAST(c AS DOUBLE) / n)
                          / (CAST(c0 AS DOUBLE) / n0))), 6) AS psi_nats
    FROM j GROUP BY week
    """,
)
def q267_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL drift: each week's event-type mix scored against
    week one with the PSI statistic (Σ (p-p₀)ln(p/p₀), the symmetric
    KL sum) — q121/q162 monitor a NUMERIC distribution through
    binned histograms; the categorical column needs no binning, just
    the 5-type census per week.  The baseline week rides a broadcast
    5-row join; ratios follow the q156 ln contract (exact integer
    counts into a fixed expression, one 6dp round).  A PSI above
    ~0.2 is the conventional repartition-your-training-mix alarm."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.floor(F.unix_timestamp(F.col("ts")) / 604800)
        .cast("long")
        .alias("week"),
        "event_type",
    ).agg(F.count("*").alias("c"))
    wt = wk.groupBy("week").agg(F.sum("c").alias("n"))
    w0 = wk.agg(F.min("week").alias("w0"))
    base = (
        wk.join(F.broadcast(w0), wk["week"] == F.col("w0"))
        .join(wt.withColumnRenamed("week", "bw"), F.col("bw") == F.col("w0"))
        .select("event_type", F.col("c").alias("c0"), F.col("n").alias("n0"))
    )
    j = (
        wk.join(wt, "week")
        .join(F.broadcast(base), "event_type")
        .crossJoin(F.broadcast(w0))
        .filter(F.col("week") > F.col("w0"))
    )
    term = (
        F.col("c").cast("double") / F.col("n")
        - F.col("c0").cast("double") / F.col("n0")
    ) * F.log(
        (F.col("c").cast("double") / F.col("n"))
        / (F.col("c0").cast("double") / F.col("n0"))
    )
    return j.groupBy("week").agg(
        F.round(F.sum(term), 6).alias("psi_nats")
    )


@register(
    "q268_degree_assortativity",
    """
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
                             FROM lineitem),
    e AS MATERIALIZED (SELECT a.l_partkey AS x, b.l_partkey AS y
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS MATERIALIZED (
      SELECT v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT x AS v FROM e UNION ALL SELECT y FROM e) t
      GROUP BY v),
    ends AS (SELECT dx.d AS a, dy.d AS b
             FROM e JOIN deg dx ON e.x = dx.v
                    JOIN deg dy ON e.y = dy.v),
    sym AS (SELECT a, b FROM ends UNION ALL SELECT b, a FROM ends),
    s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(a) AS HUGEINT) AS sa,
                 CAST(sum(b) AS HUGEINT) AS sb,
                 sum(CAST(a AS HUGEINT) * a) AS saa,
                 sum(CAST(b AS HUGEINT) * b) AS sbb,
                 sum(CAST(a AS HUGEINT) * b) AS sab
          FROM sym)
    SELECT CAST(n AS BIGINT) AS n_edge_ends,
           ROUND(CAST(n * sab - sa * sb AS DOUBLE)
                 / sqrt(CAST((n * saa - sa * sa) AS DOUBLE)
                        * CAST((n * sbb - sb * sb) AS DOUBLE)), 6)
             AS assortativity
    FROM s
    """,
)
def q268_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the co-purchase graph: the Pearson
    correlation between the degrees at the two ends of each edge —
    positive means hubs buddy with hubs (social-network shape),
    negative means hubs pair with leaves (dependency/star shape) —
    THE one-number topology summary next to q144's clustering
    coefficient.  Edges are symmetrized so the statistic is
    direction-free; the five moments are exact DECIMAL/HUGEINT
    integers over edge ends (q222's grouped-Pearson contract on a
    graph); degrees come from one aggregate over the q128 edge
    set."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= 2)
        .select("x", "y")
    )
    deg = (
        e.select(F.col("x").alias("v"))
        .unionByName(e.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("da"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("db"))
    ends = e.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y").select(
        F.col("da").alias("a"), F.col("db").alias("b")
    )
    sym = ends.unionByName(
        ends.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    da = F.col("a").cast("decimal(38,0)")
    db = F.col("b").cast("decimal(38,0)")
    s = sym.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("a").cast("decimal(38,0)").alias("sa"),
        F.sum("b").cast("decimal(38,0)").alias("sb"),
        F.sum(da * da).alias("saa"),
        F.sum(db * db).alias("sbb"),
        F.sum(da * db).alias("sab"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_edge_ends",
        "ROUND(CAST(n * sab - sa * sb AS DOUBLE)"
        " / sqrt(CAST((n * saa - sa * sa) AS DOUBLE)"
        "        * CAST((n * sbb - sb * sb) AS DOUBLE)), 6)"
        " AS assortativity",
    )


@register(
    "q269_repurchase_survival",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day, o_orderkey
               FROM orders),
    g AS (SELECT o_custkey,
                 day - lag(day) OVER (PARTITION BY o_custkey
                                      ORDER BY day, o_orderkey) AS gap
          FROM o),
    gg AS (SELECT gap FROM g WHERE gap IS NOT NULL),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gg),
    cuts AS (SELECT unnest([7, 30, 90, 180]) AS k)
    SELECT c.k AS horizon_days,
           t.n AS n_gaps,
           CAST(sum(CASE WHEN gg.gap <= c.k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within,
           CAST((sum(CASE WHEN gg.gap <= c.k THEN 1 ELSE 0 END) * 1000)
                // t.n AS BIGINT) AS repurchase_permille
    FROM gg CROSS JOIN cuts c CROSS JOIN t
    GROUP BY c.k, t.n
    """,
)
def q269_repurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPURCHASE survival points: the share of order gaps closed
    within 7/30/90/180 days — the retention curve read off inter
    -purchase gaps (q200 gives the gap quantiles; merchants quote the
    complement: 'X% reorder within 30 days').  One lag window
    produces gaps, a 4-row cut table cross-joins (bounded: 4x gap
    rows through one partial aggregate), shares in integer
    permille."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
        "o_orderkey",
    )
    wl = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gg = (
        o.select((F.col("day") - F.lag("day").over(wl)).alias("gap"))
        .filter(F.col("gap").isNotNull())
    )
    t = gg.agg(F.count("*").cast("long").alias("n"))
    cuts = gg.sparkSession.createDataFrame(
        [(7,), (30,), (90,), (180,)], "k long"
    )
    return (
        gg.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(t))
        .groupBy(F.col("k").alias("horizon_days"), F.col("n").alias("n_gaps"))
        .agg(
            F.sum(F.when(F.col("gap") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_within"),
            F.expr(
                "CAST((sum(CASE WHEN gap <= k THEN 1 ELSE 0 END) * 1000)"
                " DIV first(n) AS BIGINT)"
            ).alias("repurchase_permille"),
        )
    )


@register(
    "q270_overdue_customers",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day
               FROM orders),
    mx AS (SELECT max(day) AS today FROM o),
    per AS (SELECT o_custkey,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   max(day) AS last_day,
                   CAST((max(day) - min(day)) // (count(*) - 1) AS BIGINT)
                     AS avg_gap
            FROM o GROUP BY 1 HAVING count(*) >= 3),
    flag AS (SELECT p.o_custkey, p.n_orders, p.avg_gap,
                    m.today - p.last_day AS silent_days,
                    CASE WHEN m.today - p.last_day > 2 * p.avg_gap
                         THEN 1 ELSE 0 END AS overdue
             FROM per p, mx m),
    seg AS (SELECT c.c_mktsegment AS segment, f.*
            FROM flag f JOIN customer c ON f.o_custkey = c.c_custkey)
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(overdue) AS BIGINT) AS n_overdue,
           CAST((sum(overdue) * 1000) // count(*) AS BIGINT)
             AS overdue_permille
    FROM seg GROUP BY segment
    """,
)
def q270_overdue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN-RISK flags from each customer's own cadence: a customer
    is overdue when their silence since the last order exceeds TWICE
    their personal average gap ((last-first)/(n-1), the exact integer
    mean of their gaps with no window needed) — self-calibrated, so
    a monthly buyer flags after two quiet months while a weekly one
    flags in a fortnight; q123 learned a global band, this learns
    per-entity.  'Today' is the dataset's own max day (broadcast
    1-row); >= 3 orders required so the average means something;
    rollup per segment in integer permille."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.select(
        "o_custkey",
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
    )
    mx = o.agg(F.max("day").alias("today"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.max("day").alias("last_day"),
            F.min("day").alias("first_day"),
        )
        .filter(F.col("n_orders") >= 3)
        .selectExpr(
            "o_custkey", "n_orders", "last_day",
            "CAST((last_day - first_day) DIV (n_orders - 1) AS BIGINT)"
            " AS avg_gap",
        )
    )
    flag = per.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.when(
            F.col("today") - F.col("last_day") > 2 * F.col("avg_gap"), 1
        )
        .otherwise(0)
        .alias("overdue"),
    )
    seg = flag.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        flag["o_custkey"] == F.col("c_custkey"),
    )
    return seg.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("overdue").cast("long").alias("n_overdue"),
        F.expr(
            "CAST((sum(overdue) * 1000) DIV count(*) AS BIGINT)"
        ).alias("overdue_permille"),
    )


@register(
    "q271_cross_source_dups",
    r"""
    WITH fp AS (SELECT md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                               '\s+', ' ', 'g'))) AS f,
                       source, doc_id
                FROM documents),
    per AS (SELECT f,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS example_doc
            FROM fp GROUP BY f)
    SELECT n_sources,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(min(example_doc) AS BIGINT) AS example_doc
    FROM per GROUP BY n_sources
    """,
)
def q271_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE duplication census: for each fingerprint, how
    many SOURCES carry it — the contamination-adjacent audit (a
    document in 3 sources triples its effective training weight;
    q147 counts copies, this counts PROVENANCES; q150's token
    overlap can't see verbatim replication).  Keyed on q147's
    100-char normalized-prefix fingerprint — the near-dup stratum
    that actually exists in this corpus (full-text keys are all
    unique here, which q11/q22 already certify).  One fingerprint
    aggregate with a distinct-source count, one census rollup, a
    deterministic example doc per stratum for a human to open."""
    from .functions.textfn import normalize_ws

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy(
        F.md5(normalize_ws(F.substring(F.col("text"), 1, 100))).alias("f")
    ).agg(
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("example_doc"),
    )
    return per.groupBy("n_sources").agg(
        F.count("*").cast("long").alias("n_fingerprints"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.min("example_doc").cast("long").alias("example_doc"),
    )


@register(
    "q272_cumulative_reach",
    """
    WITH fs AS (SELECT user_id,
                       min(CAST(floor(epoch(ts) / 86400) AS BIGINT))
                         AS first_day
                FROM events GROUP BY 1),
    daily AS (SELECT first_day AS day,
                     CAST(count(*) AS BIGINT) AS new_users
              FROM fs GROUP BY 1)
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_reach
    FROM daily
    """,
)
def q272_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE REACH: distinct users ever seen, by day — the
    launch-curve chart — computed WITHOUT a running COUNT DISTINCT
    (which would hold every id in window state): each user collapses
    to a first-seen day (q184's contract), and reach is a plain
    cumulative SUM over the daily-new aggregate, exact and
    calendar-bounded.  The general lesson pinned here: any
    'cumulative distinct' is a cumsum over first-occurrences."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(
            F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
        ).alias("first_day")
    )
    daily = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_reach"),
    )


@register(
    "q273_aa_test",
    """
    WITH u AS (SELECT user_id,
                      CASE WHEN CAST('0x' || substr(md5(CAST(user_id
                                                             AS VARCHAR)),
                                     1, 8) AS BIGINT) % 2 = 0
                           THEN 'A1' ELSE 'A2' END AS arm
               FROM (SELECT DISTINCT user_id FROM events) t),
    m AS (SELECT u.arm,
                 CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
                 CAST(sum(CASE WHEN e.event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
                 CAST(count(*) AS BIGINT) AS events
          FROM events e JOIN u ON e.user_id = u.user_id
          GROUP BY u.arm)
    SELECT arm, n_users, purchases, events,
           CAST((purchases * 1000000) // events AS BIGINT)
             AS purchase_ppm
    FROM m
    """,
)
def q273_aa_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A CALIBRATION: split users into two arms by md5 parity and
    measure the SAME metric in both — the null experiment every
    experimentation platform runs first (arms that differ with no
    treatment mean the assignment or the metric pipeline is broken;
    q143 reads a real A/B, this certifies the harness).  The md5
    draw is q58's retry-stable contract — no rand(), so the arms are
    reproducible across runs and engines; metrics in integer ppm."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                "A1",
            )
            .otherwise("A2")
            .alias("arm"),
        )
    )
    m = ev.join(F.broadcast(u), "user_id").groupBy("arm").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("purchases"),
        F.count("*").cast("long").alias("events"),
    )
    return m.select(
        "arm",
        "n_users",
        "purchases",
        "events",
        F.expr("CAST((purchases * 1000000) DIV events AS BIGINT)").alias(
            "purchase_ppm"
        ),
    )


@register(
    "q274_linenumber_integrity",
    """
    WITH per AS (SELECT l_orderkey,
                        CAST(count(*) AS BIGINT) AS n_lines,
                        CAST(max(l_linenumber) AS BIGINT) AS max_ln,
                        CAST(count(DISTINCT l_linenumber) AS BIGINT)
                          AS distinct_ln
                 FROM lineitem GROUP BY 1),
    cls AS (SELECT CASE WHEN distinct_ln < n_lines THEN 'duplicate_ln'
                        WHEN max_ln > n_lines THEN 'gapped_ln'
                        ELSE 'dense' END AS status
            FROM per)
    SELECT status, CAST(count(*) AS BIGINT) AS n_orders
    FROM cls GROUP BY status
    """,
)
def q274_linenumber_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-NUMBER integrity: is each order's l_linenumber sequence
    dense 1..n (as TPC-H guarantees), gapped, or duplicated?  The
    surrogate-sequence audit that catches partial reloads and
    double-appends BEFORE they poison joins keyed on (orderkey,
    linenumber) — cheap because density needs only three aggregates
    per order (count, max, distinct-count: dense <=> all equal),
    never a sort.  Completes the integrity set: q107 checks
    references, q232 checks amounts, this checks sequences."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.max("l_linenumber").alias("max_ln"),
        F.countDistinct("l_linenumber").alias("distinct_ln"),
    )
    cls = per.select(
        F.when(F.col("distinct_ln") < F.col("n_lines"), "duplicate_ln")
        .when(F.col("max_ln") > F.col("n_lines"), "gapped_ln")
        .otherwise("dense")
        .alias("status")
    )
    return cls.groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders")
    )


@register(
    "q275_exit_events",
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(epoch_us(ts) AS BIGINT) AS us
               FROM events),
    m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS sid
          FROM m),
    ranked AS (SELECT user_id, sid, event_type,
                      row_number() OVER (PARTITION BY user_id, sid
                                         ORDER BY us DESC,
                                                  event_id DESC) AS rn
               FROM s),
    conv AS (SELECT user_id, sid,
                    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS converted
             FROM s GROUP BY 1, 2),
    ex AS (SELECT r.event_type AS exit_type
           FROM ranked r JOIN conv c USING (user_id, sid)
           WHERE r.rn = 1 AND c.converted = 0),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex)
    SELECT exit_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST((count(*) * 1000) // max(t.n) AS BIGINT) AS share_permille
    FROM ex CROSS JOIN t GROUP BY exit_type
    """,
)
def q275_exit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIT analysis: what NON-CONVERTING sessions end on — the
    'last page before they left' census that tells a product team
    where the funnel actually leaks (q215 counts one-event bounces;
    q132 credits conversions; this profiles the failures).  Same
    session contract; the exit event is the rank-1 row of a
    DESCENDING (ts, event_id) window — deterministic mirror of the
    entry pick — and shares are permille of abandoning sessions."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = e.withColumn(
        "sid",
        F.sum(
            F.when(
                F.lag("us").over(w).isNull()
                | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
                1,
            ).otherwise(0)
        ).over(w),
    )
    per = s.groupBy("user_id", "sid").agg(
        F.max_by("event_type", F.struct("us", "event_id")).alias(
            "exit_type"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    ex = per.filter(F.col("converted") == 0).select("exit_type")
    t = ex.agg(F.count("*").cast("long").alias("n"))
    return (
        ex.crossJoin(F.broadcast(t))
        .groupBy("exit_type")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.expr(
                "CAST((count(*) * 1000) DIV max(n) AS BIGINT)"
            ).alias("share_permille"),
        )
    )


@register(
    "q276_discount_response",
    """
    SELECT CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                // 1000000 AS BIGINT) AS price_band_10k_cents,
           CAST(floor(l_discount * 100 + 0.5) AS BIGINT) // 2 * 2
             AS discount_band_pct,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST((sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) * 1000)
                // count(*) AS BIGINT) AS qty_permille
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q276_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISCOUNT RESPONSE SURFACE: average quantity (permille)
    per (price band x discount band) cell — the 2-D table a pricing
    team reads where q222's single correlation coefficient hides the
    shape (response can rise at low prices and flatten at high).
    Bands are pure integer division (10k-cent price bands, 2-pt
    discount bands), so cell edges are exact on both engines; one
    scan-side aggregate, ~200 cells."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.expr(
            "CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
            " DIV 1000000 AS BIGINT)"
        ).alias("price_band_10k_cents"),
        F.expr(
            "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) DIV 2 * 2"
        ).alias("discount_band_pct"),
    ).agg(
        F.count("*").cast("long").alias("n_items"),
        F.expr(
            "CAST((sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) * 1000)"
            " DIV count(*) AS BIGINT)"
        ).alias("qty_permille"),
    )


@register(
    "q277_sentence_length_profile",
    """
    WITH sen AS (SELECT source,
                        unnest(string_split_regex(text, '[.!?]+')) AS s
                 FROM documents),
    wc AS (SELECT source,
                  CAST(length(list_filter(string_split_regex(trim(s),
                                                             '\\s+'),
                                          x -> x <> '')) AS BIGINT) AS w
           FROM sen WHERE trim(s) <> ''),
    h AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
          FROM wc GROUP BY 1, 2),
    cum AS (SELECT source, w, cnt,
                   sum(cnt) OVER (PARTITION BY source ORDER BY w
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY source) AS n
            FROM h)
    SELECT source, CAST(max(n) AS BIGINT) AS n_sentences,
           CAST(min(CASE WHEN 2 * cum >= n THEN w END) AS BIGINT)
             AS median_words,
           CAST(min(CASE WHEN 10 * cum >= 9 * n THEN w END) AS BIGINT)
             AS p90_words,
           CAST(max(w) AS BIGINT) AS max_words
    FROM cum GROUP BY source
    """,
)
def q277_sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE-LENGTH profile per source: median/p90/max words per
    sentence — the style fingerprint next to q229's readability
    (same inputs, but DISTRIBUTIONAL: a source mixing 5-word
    fragments with 80-word run-ons shows the same mean as uniform
    prose; the p90 separates them).  Sentences explode on terminator
    runs, word counts reuse the q21 token contract, and the
    quantiles are q133 histogram crossings over (source,
    words-per-sentence) — bounded by the longest sentence, never
    sorting sentences."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sen = docs.select(
        "source",
        F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s"),
    ).filter(F.trim(F.col("s")) != "")
    wc = sen.select(
        "source",
        F.size(
            F.filter(
                F.split(F.trim(F.col("s")), r"\s+"), lambda x: x != ""
            )
        )
        .cast("long")
        .alias("w"),
    )
    h = wc.groupBy("source", "w").agg(F.count("*").alias("cnt"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "source",
        "w",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("source")).alias("n"),
    )
    return cum.groupBy("source").agg(
        F.max("n").cast("long").alias("n_sentences"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("w")))
        .cast("long")
        .alias("median_words"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("w")))
        .cast("long")
        .alias("p90_words"),
        F.max("w").cast("long").alias("max_words"),
    )


@register(
    "q278_median_ci",
    """
    WITH h AS (SELECT o_orderpriority AS pri,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM orders GROUP BY 1, 2),
    cum AS (SELECT pri, cents, cnt,
                   sum(cnt) OVER (PARTITION BY pri ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY pri) AS n
            FROM h),
    rk AS (SELECT pri, cents, cum, n,
                  CAST(floor((n - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
                       AS BIGINT) AS rlo,
                  CAST(ceil(1 + (n + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
                       AS BIGINT) AS rhi
           FROM cum)
    SELECT pri, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN 2 * cum >= n THEN cents END) AS BIGINT)
             AS median_cents,
           CAST(min(CASE WHEN cum >= rlo THEN cents END) AS BIGINT)
             AS ci_lo_cents,
           CAST(min(CASE WHEN cum >= rhi THEN cents END) AS BIGINT)
             AS ci_hi_cents
    FROM rk GROUP BY pri
    """,
)
def q278_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN with a 95% order-statistic confidence interval per
    priority: the CI endpoints are the values at ranks
    (n ± 1.96√n)/2 — the distribution-free binomial bound, so the
    interval needs NO normality assumption and costs two more
    crossings of the SAME cumulative histogram the median already
    walks (q133's machinery; q235 did the Bernoulli-parameter
    analogue).  The rank bounds touch doubles once (sqrt on an exact
    integer, floor/ceil) identically on both engines; all values are
    exact cents."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    h = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("pri")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "pri",
        "cents",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("pri")).alias("n"),
    )
    rk = cum.selectExpr(
        "pri", "cents", "cum", "n",
        "CAST(floor((n - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT)"
        " AS rlo",
        "CAST(ceil(1 + (n + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT)"
        " AS rhi",
    )
    return rk.groupBy("pri").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("cents")))
        .cast("long")
        .alias("median_cents"),
        F.min(F.when(F.col("cum") >= F.col("rlo"), F.col("cents")))
        .cast("long")
        .alias("ci_lo_cents"),
        F.min(F.when(F.col("cum") >= F.col("rhi"), F.col("cents")))
        .cast("long")
        .alias("ci_hi_cents"),
    )


@register(
    "q279_drawdown",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
               FROM orders GROUP BY 1),
    p AS (SELECT day, x,
                 max(x) OVER (ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS peak
          FROM d)
    SELECT day, CAST(x AS BIGINT) AS day_cents,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(peak - x AS BIGINT) AS drawdown_cents
    FROM p
    ORDER BY peak - x DESC, day LIMIT 10
    """,
)
def q279_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX DRAWDOWN screen: the 10 days furthest below the
    running-peak daily revenue — the risk lens (how bad did it get
    relative to the best day SO FAR — a causal comparison, unlike
    distance from the global max which peeks at the future) that
    finance runs on equity curves and ops runs on throughput.  One
    running-max window over the daily aggregate, pure integer
    subtraction, TakeOrdered(10) with a day tie-break."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("x"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = d.select("day", "x", F.max("x").over(w).alias("peak"))
    return (
        p.select(
            "day",
            F.col("x").cast("long").alias("day_cents"),
            F.col("peak").cast("long").alias("peak_cents"),
            (F.col("peak") - F.col("x")).cast("long").alias("drawdown_cents"),
        )
        .orderBy(F.col("drawdown_cents").desc(), "day")
        .limit(10)
    )


@register(
    "q280_dup_rate_by_source",
    r"""
    WITH fp AS (SELECT source,
                       md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                               '\s+', ' ', 'g'))) AS f
                FROM documents),
    per AS (SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT f) AS BIGINT) AS n_unique
            FROM fp GROUP BY source)
    SELECT source, n_docs, n_unique,
           CAST(((n_docs - n_unique) * 1000) // n_docs AS BIGINT)
             AS dup_permille
    FROM per
    """,
)
def q280_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DUPLICATION RATE under the prefix fingerprint:
    docs minus distinct keys, as permille — the one-line-per-source
    scorecard that decides which feed needs dedup attention first
    (q147 profiles strata corpus-wide; q271 counts provenances;
    this ranks the FEEDS).  One aggregate carrying count +
    distinct-count per source; exact integers."""
    from .functions.textfn import normalize_ws

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct(
            F.md5(normalize_ws(F.substring(F.col("text"), 1, 100)))
        )
        .cast("long")
        .alias("n_unique"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_unique",
        F.expr(
            "CAST(((n_docs - n_unique) * 1000) DIV n_docs AS BIGINT)"
        ).alias("dup_permille"),
    )


@register(
    "q281_capture_recapture",
    """
    WITH w1 AS (SELECT DISTINCT user_id FROM events
                WHERE ts < TIMESTAMP '2024-01-08'),
    w2 AS (SELECT DISTINCT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-08'
             AND ts < TIMESTAMP '2024-01-15'),
    m AS (SELECT CAST((SELECT count(*) FROM w1) AS BIGINT) AS n1,
                 CAST((SELECT count(*) FROM w2) AS BIGINT) AS n2,
                 CAST((SELECT count(*) FROM w1
                       WHERE user_id IN (SELECT user_id FROM w2))
                      AS BIGINT) AS recaptured)
    SELECT n1, n2, recaptured,
           CAST((n1 * n2) // recaptured AS BIGINT) AS population_estimate
    FROM m
    """,
)
def q281_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINCOLN-PETERSEN capture-recapture: week-1 actives are the
    tagged sample, week-2 actives the recapture, and N̂ = n1·n2/m
    estimates the TOTAL population including users never observed —
    the ecology estimator data teams reuse to size the
    audience-beyond-the-logs (every other census in this inventory
    counts only what appeared).  Two distinct sets, one semi-join
    overlap, an exact integer-division estimate; on this fixture
    the estimate should land near the observed 150/1500 (all users
    active weekly), which the oracle certifies."""
    ev = load_table(spark, sf_dir, "events")
    w1 = ev.filter(F.col("ts") < "2024-01-08").select("user_id").distinct()
    w2 = (
        ev.filter((F.col("ts") >= "2024-01-08") & (F.col("ts") < "2024-01-15"))
        .select("user_id")
        .distinct()
    )
    n1 = w1.agg(F.count("*").cast("long").alias("n1"))
    n2 = w2.agg(F.count("*").cast("long").alias("n2"))
    m = (
        w1.join(w2, "user_id", "left_semi")
        .agg(F.count("*").cast("long").alias("recaptured"))
    )
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .selectExpr(
            "n1", "n2", "recaptured",
            "CAST((n1 * n2) DIV recaptured AS BIGINT)"
            " AS population_estimate",
        )
    )


@register(
    "q282_eb_smoothing",
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(epoch_us(ts) AS BIGINT) AS us
               FROM events),
    m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS sid
          FROM m),
    ranked AS (SELECT user_id, sid, event_type,
                      row_number() OVER (PARTITION BY user_id, sid
                                         ORDER BY us, event_id) AS rn
               FROM s),
    conv AS (SELECT user_id, sid,
                    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS converted
             FROM s GROUP BY 1, 2),
    per AS (SELECT r.event_type AS entry_type, c.converted
            FROM ranked r JOIN conv c USING (user_id, sid)
            WHERE r.rn = 1),
    agg AS (SELECT entry_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(converted) AS BIGINT) AS k
            FROM per GROUP BY entry_type),
    g AS (SELECT sum(n) AS gn, sum(k) AS gk FROM agg)
    SELECT a.entry_type, a.n, a.k,
           CAST((a.k * 1000000) // a.n AS BIGINT) AS raw_ppm,
           CAST(((a.k * g.gn + 100 * g.gk) * 1000000)
                // ((a.n + 100) * g.gn) AS BIGINT) AS smoothed_ppm
    FROM agg a CROSS JOIN g
    """,
)
def q282_eb_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES smoothed conversion per entry type: each
    rate shrinks toward the global rate with prior strength k=100
    pseudo-sessions — (conversions + 100·p_global)/(n + 100) — the
    standard fix for ranking sparse categories where a 2/2 cell
    would otherwise beat a 900/1000 one (q235 quantifies the
    uncertainty; this REMOVES it from the ranking).  Algebra is
    kept in one integer fraction ((k·gn + 100·gk)·1e6) //
    ((n+100)·gn) — no float prior ever materializes, so the ppm is
    exact on both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = base.withColumn(
        "sid",
        F.sum(
            F.when(
                F.lag("us").over(w).isNull()
                | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
                1,
            ).otherwise(0)
        ).over(w),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.min_by("event_type", F.struct("us", "event_id")).alias(
            "entry_type"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    agg = per.groupBy("entry_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("k"),
    )
    g = agg.agg(F.sum("n").alias("gn"), F.sum("k").alias("gk"))
    return agg.crossJoin(F.broadcast(g)).selectExpr(
        "entry_type", "n", "k",
        "CAST((k * 1000000) DIV n AS BIGINT) AS raw_ppm",
        "CAST(((k * gn + 100 * gk) * 1000000)"
        " DIV ((n + 100) * gn) AS BIGINT) AS smoothed_ppm",
    )


@register(
    "q283_weekday_adjusted",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
               FROM orders GROUP BY 1),
    dw AS (SELECT day, x, (day + 4) % 7 AS dow FROM d),
    idx AS (SELECT dow, sum(x) AS dow_rev,
                   CAST(count(*) AS BIGINT) AS dow_days
            FROM dw GROUP BY dow),
    t AS (SELECT sum(dow_rev) AS tot, sum(dow_days) AS nd FROM idx)
    SELECT dw.day, CAST(dw.x AS BIGINT) AS raw_cents,
           CAST((CAST(dw.x AS HUGEINT) * i.dow_days * t.tot)
                // (i.dow_rev * t.nd) AS BIGINT) AS adjusted_cents
    FROM dw JOIN idx i ON dw.dow = i.dow CROSS JOIN t
    """,
)
def q283_weekday_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKDAY-ADJUSTED daily revenue: each day divided by its
    weekday's own average-vs-overall factor (x · (dow_days/dow_rev)
    · (tot/nd), composed as ONE integer fraction so nothing rounds
    twice) — the de-seasonalized series an anomaly monitor should
    consume instead of raw (a slow Sunday stops tripping q123's
    z-score every single week).  The weekday factors are q259's
    index inverted; broadcast 7-row + 1-row joins; DECIMAL/HUGEINT
    against the value-sum-product overflow class."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("x"))
    dw = d.select("day", "x", ((F.col("day") + 4) % 7).alias("dow"))
    idx = dw.groupBy("dow").agg(
        F.sum("x").alias("dow_rev"),
        F.count("*").cast("long").alias("dow_days"),
    )
    t = idx.agg(F.sum("dow_rev").alias("tot"), F.sum("dow_days").alias("nd"))
    return (
        dw.join(F.broadcast(idx), "dow")
        .crossJoin(F.broadcast(t))
        .selectExpr(
            "day", "CAST(x AS BIGINT) AS raw_cents",
            "CAST((CAST(x AS DECIMAL(38,0)) * dow_days * tot)"
            " DIV (CAST(dow_rev AS DECIMAL(38,0)) * nd) AS BIGINT)"
            " AS adjusted_cents",
        )
    )


@register(
    "q284_cents_grid_audit",
    """
    WITH checks AS (
      SELECT 'orders.o_totalprice' AS col,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN abs(o_totalprice * 100
                                    - floor(o_totalprice * 100 + 0.5)) > 1e-6
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_offgrid
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_extendedprice',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN abs(l_extendedprice * 100
                                    - floor(l_extendedprice * 100 + 0.5)) > 1e-6
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'customer.c_acctbal',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN abs(c_acctbal * 100
                                    - floor(c_acctbal * 100 + 0.5)) > 1e-6
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM customer
      UNION ALL
      SELECT 'supplier.s_acctbal',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN abs(s_acctbal * 100
                                    - floor(s_acctbal * 100 + 0.5)) > 1e-6
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM supplier)
    SELECT col, n_rows, n_offgrid,
           CASE WHEN n_offgrid = 0 THEN 'on_cent_grid'
                ELSE 'off_grid' END AS verdict
    FROM checks
    """,
)
def q284_cents_grid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENT-GRID certification: does every money column actually sit
    on the 1/100-dollar lattice the whole inventory's
    floor(x*100 + 0.5)-to-integer contract assumes?  Four columns, one
    pass each, counting values whose double is more than 1e-6 cents
    off the grid — all zero here, which PROVES the exactness
    machinery's premise instead of assuming it (and on a feed where
    it fails, this is the query that says which column lies).  The
    audit the house exactness rules owed themselves."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")

    def check(df, col, label):
        off = F.abs(F.col(col) * 100 - F.floor(F.col(col) * 100 + F.lit(0.5))) > 1e-6
        return df.agg(
            F.lit(label).alias("col"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(off, 1).otherwise(0)).cast("long").alias(
                "n_offgrid"
            ),
        )

    checks = (
        check(orders, "o_totalprice", "orders.o_totalprice")
        .unionByName(
            check(li, "l_extendedprice", "lineitem.l_extendedprice")
        )
        .unionByName(check(cust, "c_acctbal", "customer.c_acctbal"))
        .unionByName(check(supp, "s_acctbal", "supplier.s_acctbal"))
    )
    return checks.select(
        "col",
        "n_rows",
        "n_offgrid",
        F.when(F.col("n_offgrid") == 0, "on_cent_grid")
        .otherwise("off_grid")
        .alias("verdict"),
    )


@register(
    "q285_other_bucketing",
    """
    WITH rev AS (SELECT p.p_brand AS brand,
                        sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                            * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                          AS BIGINT))) AS e4
                 FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                 GROUP BY 1),
    top5 AS (SELECT brand FROM rev
             ORDER BY e4 DESC, brand LIMIT 5),
    lab AS (SELECT CASE WHEN r.brand IN (SELECT brand FROM top5)
                        THEN r.brand ELSE 'OTHER' END AS brand_group,
                   r.e4
            FROM rev r)
    SELECT brand_group,
           CAST(sum(e4) AS BIGINT) AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_brands
    FROM lab GROUP BY brand_group
    """,
)
def q285_other_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-N + OTHER bucketing: the five highest-revenue brands kept
    by name, the tail collapsed into one 'OTHER' row — the transform
    every chart legend needs and every naive GROUP BY lacks (25
    slices make unreadable pies; dropping the tail silently loses
    revenue — OTHER keeps the total exact, pinned by the n_brands
    census riding along).  Deterministic (revenue, brand) top-5 cut
    broadcast back as a semi-filterable set; one aggregate each
    side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    rev = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(e4).alias("e4"))
    )
    top5 = (
        rev.orderBy(F.col("e4").desc(), "brand")
        .limit(5)
        .select(F.col("brand").alias("tb"))
    )
    lab = rev.join(
        F.broadcast(top5), rev["brand"] == F.col("tb"), "left"
    ).select(
        F.when(F.col("tb").isNotNull(), F.col("brand"))
        .otherwise("OTHER")
        .alias("brand_group"),
        "e4",
    )
    return lab.groupBy("brand_group").agg(
        F.sum("e4").cast("long").alias("revenue_e4"),
        F.count("*").cast("long").alias("n_brands"),
    )


@register(
    "q286_winsorized_mean",
    """
    WITH h AS (SELECT event_type AS t,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM events GROUP BY 1, 2),
    cum AS (SELECT t, cents, cnt,
                   sum(cnt) OVER (PARTITION BY t ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY t) AS n
            FROM h),
    bounds AS (SELECT t, max(n) AS n,
                      min(CASE WHEN 20 * cum >= n THEN cents END) AS lo,
                      min(CASE WHEN 20 * cum >= 19 * n THEN cents END) AS hi
               FROM cum GROUP BY t),
    w AS (SELECT c.t, c.cnt,
                 CASE WHEN c.cents < b.lo THEN b.lo
                      WHEN c.cents > b.hi THEN b.hi
                      ELSE c.cents END AS wc
          FROM h c JOIN bounds b ON c.t = b.t)
    SELECT w.t AS event_type,
           CAST(max(b.n) AS BIGINT) AS n_events,
           CAST(max(b.lo) AS BIGINT) AS p5_cents,
           CAST(max(b.hi) AS BIGINT) AS p95_cents,
           CAST(sum(w.wc * w.cnt) // max(b.n) AS BIGINT)
             AS winsorized_mean_cents
    FROM w JOIN bounds b ON w.t = b.t
    GROUP BY w.t
    """,
)
def q286_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean event value per type: clip at the exact
    p5/p95 crossings, then average — the third robust-center tool
    (q133's median ignores magnitude entirely; trimming DELETES
    tails; winsorizing keeps their count but caps their leverage —
    the estimator of choice for spend-like metrics with whales).
    The clip bounds come from the SAME histogram the mean then
    re-walks — two passes over state bounded by distinct cents,
    never raw rows; the floor-divided mean is exact integer cents."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("t")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "t",
        "cents",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("t")).alias("n"),
    )
    bounds = cum.groupBy("t").agg(
        F.max("n").alias("n"),
        F.min(F.when(20 * F.col("cum") >= F.col("n"), F.col("cents"))).alias(
            "lo"
        ),
        F.min(
            F.when(20 * F.col("cum") >= 19 * F.col("n"), F.col("cents"))
        ).alias("hi"),
    )
    w = h.join(F.broadcast(bounds), "t").select(
        "t",
        "cnt",
        "n",
        "lo",
        "hi",
        F.when(F.col("cents") < F.col("lo"), F.col("lo"))
        .when(F.col("cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("cents"))
        .alias("wc"),
    )
    return w.groupBy(F.col("t").alias("event_type")).agg(
        F.max("n").cast("long").alias("n_events"),
        F.max("lo").cast("long").alias("p5_cents"),
        F.max("hi").cast("long").alias("p95_cents"),
        F.expr(
            "CAST(sum(wc * cnt) DIV max(n) AS BIGINT)"
        ).alias("winsorized_mean_cents"),
    )


@register(
    "q287_decomposition_quality",
    """
    WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                           AS BIGINT) AS month,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
               FROM orders GROUP BY 1),
    w AS (SELECT month, cents,
                 row_number() OVER (ORDER BY month) AS i,
                 count(*) OVER () AS n,
                 lag(cents, 6) OVER (ORDER BY month)
                   + lead(cents, 6) OVER (ORDER BY month)
                   + 2 * (sum(cents) OVER (ORDER BY month
                                           ROWS BETWEEN 5 PRECEDING
                                           AND 5 FOLLOWING)) AS trend_x24
          FROM m),
    det AS (SELECT 24 * cents AS y24, trend_x24,
                   24 * cents - trend_x24 AS r24
            FROM w WHERE i > 6 AND i <= n - 6),
    s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(y24) AS HUGEINT) AS sy,
                 sum(CAST(y24 AS HUGEINT) * y24) AS syy,
                 CAST(sum(r24) AS HUGEINT) AS sr,
                 sum(CAST(r24 AS HUGEINT) * r24) AS srr
          FROM det)
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(1000000 - ((n * srr - sr * sr) * 1000000)
                          // (n * syy - sy * sy) AS BIGINT)
             AS trend_r2_ppm
    FROM s
    """,
)
def q287_decomposition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does q219's trend actually EXPLAIN?  R² of the
    centered-MA decomposition — one minus the residual-to-total
    variance ratio — computed from integer x24 units end to end:
    both sums of squares are exact DECIMAL/HUGEINT, the ratio is one
    integer division, so the quality score is reproducible to the
    ppm (a float R² would wobble in its last digits across engines).
    Low R² here is the honest verdict that this fixture's monthly
    revenue is mostly noise around a flat trend — the
    decomposition-worthiness gate run BEFORE anyone trusts q221's
    seasonal indices."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    wo = Window.orderBy("month")
    w = m.select(
        "month",
        "cents",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(
            Window.orderBy("month").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
        (
            F.lag("cents", 6).over(wo)
            + F.lead("cents", 6).over(wo)
            + 2 * F.sum("cents").over(wo.rowsBetween(-5, 5))
        ).alias("trend_x24"),
    )
    det = w.filter((F.col("i") > 6) & (F.col("i") <= F.col("n") - 6)).select(
        (24 * F.col("cents")).alias("y24"),
        (24 * F.col("cents") - F.col("trend_x24")).alias("r24"),
    )
    dy = F.col("y24").cast("decimal(38,0)")
    dr = F.col("r24").cast("decimal(38,0)")
    s = det.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("y24").cast("decimal(38,0)").alias("sy"),
        F.sum(dy * dy).alias("syy"),
        F.sum("r24").cast("decimal(38,0)").alias("sr"),
        F.sum(dr * dr).alias("srr"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_months",
        "CAST(1000000 - ((n * srr - sr * sr) * 1000000)"
        " DIV (n * syy - sy * sy) AS BIGINT) AS trend_r2_ppm",
    )


@register(
    "q288_effective_brands",
    """
    WITH c AS (SELECT cu.c_nationkey AS nk, p.p_brand AS brand,
                      CAST(count(*) AS BIGINT) AS c
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer cu ON o.o_custkey = cu.c_custkey
               JOIN part p ON l.l_partkey = p.p_partkey
               GROUP BY 1, 2)
    SELECT nk AS nationkey,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum(c) AS BIGINT) AS n_items,
           CAST((CAST(sum(c) AS HUGEINT) * sum(c))
                // sum(CAST(c AS HUGEINT) * c) AS BIGINT)
             AS effective_brands
    FROM c GROUP BY nk
    """,
)
def q288_effective_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE number of brands per nation's purchase mix — the
    inverse-Simpson (Σc)²/Σc², i.e. 'this portfolio behaves like N
    equally-bought brands' — diversity in interpretable UNITS where
    q216's Simpson ppm and q206's nats are abstract (25 raw brands
    collapsing to an effective 8 is a concentration story the raw
    count hides).  Floor-divided exact integers with the squared
    sums in DECIMAL/HUGEINT; one fact pass, one 25-row rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    c = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.col("p_brand").alias("brand")
        )
        .agg(F.count("*").alias("c"))
    )
    dc = F.col("c").cast("decimal(38,0)")
    return c.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n_brands"),
        F.sum("c").cast("long").alias("n_items"),
        F.expr(
            "CAST((CAST(sum(c) AS DECIMAL(38,0)) * sum(c))"
            " DIV sum(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)"
        ).alias("effective_brands"),
    )


@register(
    "q289_partition_planning",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      CAST(floor(epoch(o_orderdate) / 604800) AS BIGINT)
                        AS week,
                      CAST(year(o_orderdate) * 100 + month(o_orderdate)
                           AS BIGINT) AS month
               FROM orders),
    g AS (SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                      WHEN grouping(week) = 0 THEN 'week'
                      ELSE 'month' END AS grain,
                 COALESCE(day, week, month) AS bucket,
                 CAST(count(*) AS BIGINT) AS rows_in
          FROM d GROUP BY GROUPING SETS ((day), (week), (month)))
    SELECT grain,
           CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(min(rows_in) AS BIGINT) AS min_rows,
           CAST(sum(rows_in) // count(*) AS BIGINT) AS avg_rows,
           CAST(max(rows_in) AS BIGINT) AS max_rows
    FROM g GROUP BY grain
    """,
)
def q289_partition_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-GRAIN planning table: for day/week/month layouts,
    how many partitions and how many rows each would hold (min/avg/
    max) — the numbers that decide ``build_time_partitioned``'s
    date grain BEFORE writing 20k tiny directories or 80 giant ones
    (the small-files problem and its inverse, quantified).  One
    scan through q233's time-grain GROUPING SETS, then a 3-row
    census of the partition census."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 604800)
        .cast("long")
        .alias("week"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month"),
    )
    d.createOrReplaceTempView("_part_plan_d")
    g = spark.sql(
        """
        SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                    WHEN grouping(week) = 0 THEN 'week'
                    ELSE 'month' END AS grain,
               COALESCE(day, week, month) AS bucket,
               CAST(count(*) AS BIGINT) AS rows_in
        FROM _part_plan_d GROUP BY GROUPING SETS ((day), (week), (month))
        """
    )
    return g.groupBy("grain").agg(
        F.count("*").cast("long").alias("n_partitions"),
        F.min("rows_in").cast("long").alias("min_rows"),
        F.expr("CAST(sum(rows_in) DIV count(*) AS BIGINT)").alias(
            "avg_rows"
        ),
        F.max("rows_in").cast("long").alias("max_rows"),
    )


@register(
    "q290_health_dashboard",
    """
    WITH checks AS (
      SELECT 'fk_lineitem_orders' AS chk,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bad
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orderkey_unique',
             CAST(count(*) AS BIGINT),
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'linenumber_dense',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN max_ln <> n_lines
                             OR distinct_ln <> n_lines
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_orderkey, count(*) AS n_lines,
                   max(l_linenumber) AS max_ln,
                   count(DISTINCT l_linenumber) AS distinct_ln
            FROM lineitem GROUP BY 1) t
      UNION ALL
      SELECT 'totalprice_on_cent_grid',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN abs(o_totalprice * 100
                                    - floor(o_totalprice * 100 + 0.5)) > 1e-6
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'shipdate_not_null',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem)
    SELECT chk, n_checked, n_bad,
           CASE WHEN n_bad = 0 THEN 'PASS' ELSE 'FAIL' END AS status
    FROM checks
    """,
)
def q290_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MORNING HEALTH DASHBOARD: five integrity families — FK
    resolution, key uniqueness, sequence density, money-grid, and
    null screens — as one PASS/FAIL page, each a single-aggregate
    summary of its dedicated deep-dive query (q107/q204/q274/q284)
    — because what an on-call actually loads at 9am is ONE page,
    not five reports.  Every check is one scan + one reduce; the
    unions are of 1-row aggregates, so the whole page costs two
    fact passes."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    fk = li.join(
        F.broadcast(orders.select("o_orderkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left",
    ).agg(
        F.lit("fk_lineitem_orders").alias("chk"),
        F.count("*").cast("long").alias("n_checked"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
    )
    uniq = orders.agg(
        F.lit("orderkey_unique").alias("chk"),
        F.count("*").cast("long").alias("n_checked"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("n_bad"),
    )
    dense = (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.max("l_linenumber").alias("max_ln"),
            F.countDistinct("l_linenumber").alias("distinct_ln"),
        )
        .agg(
            F.lit("linenumber_dense").alias("chk"),
            F.count("*").cast("long").alias("n_checked"),
            F.sum(
                F.when(
                    (F.col("max_ln") != F.col("n_lines"))
                    | (F.col("distinct_ln") != F.col("n_lines")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_bad"),
        )
    )
    grid = orders.agg(
        F.lit("totalprice_on_cent_grid").alias("chk"),
        F.count("*").cast("long").alias("n_checked"),
        F.sum(
            F.when(
                F.abs(
                    F.col("o_totalprice") * 100
                    - F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                )
                > 1e-6,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_bad"),
    )
    nn = li.agg(
        F.lit("shipdate_not_null").alias("chk"),
        F.count("*").cast("long").alias("n_checked"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
    )
    checks = fk.unionByName(uniq).unionByName(dense).unionByName(
        grid
    ).unionByName(nn)
    return checks.select(
        "chk",
        "n_checked",
        "n_bad",
        F.when(F.col("n_bad") == 0, "PASS").otherwise("FAIL").alias(
            "status"
        ),
    )


@register(
    "q291_tenure_cohorts",
    """
    WITH fo AS (SELECT o_custkey,
                       CAST(min(year(o_orderdate)) AS BIGINT) AS cohort
                FROM orders GROUP BY 1),
    j AS (SELECT f.cohort,
                 o.o_custkey,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey)
    SELECT cohort,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) // count(*) AS BIGINT) AS avg_order_cents,
           CAST((count(*) * 1000) // count(DISTINCT o_custkey) AS BIGINT)
             AS orders_per_customer_permille
    FROM j GROUP BY cohort
    """,
)
def q291_tenure_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TENURE cohorts: customers grouped by their FIRST order year,
    with lifetime order counts and average order value — do early
    adopters order more, or just longer?  (q173's decay triangle
    tracks value over months-since; this is the flat per-cohort
    summary sales quotes.)  The cohort label is a broadcast
    min-aggregate joined back; all ratios integer permille / floored
    cents."""
    orders = load_table(spark, sf_dir, "orders")
    fo = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("long").alias("cohort")
    )
    j = orders.join(F.broadcast(fo), "o_custkey").select(
        "cohort",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return j.groupBy("cohort").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.count("*").cast("long").alias("n_orders"),
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias(
            "avg_order_cents"
        ),
        F.expr(
            "CAST((count(*) * 1000) DIV count(DISTINCT o_custkey)"
            " AS BIGINT)"
        ).alias("orders_per_customer_permille"),
    )


@register(
    "q292_top_terms_per_source",
    """
    WITH tok AS (SELECT source,
                        unnest(string_split_regex(lower(text), '\\s+')) AS w
                 FROM documents),
    tc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS freq
           FROM tok WHERE w <> '' GROUP BY 1, 2),
    r AS (SELECT source, w, freq,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY freq DESC, w) AS rk
          FROM tc)
    SELECT source, CAST(rk AS BIGINT) AS rank, w AS term, freq
    FROM r WHERE rk <= 5
    """,
)
def q292_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms PER SOURCE — the per-feed vocabulary head (q12 is
    the global head; feeds differ, and a source whose head diverges
    from the corpus head is a genre outlier worth routing
    differently).  One (source, word) aggregate — vocabulary-sized
    state — then a source-partitioned rank window that only sorts
    each source's vocab, deterministic (freq desc, term) ties."""
    from pyspark.sql import Window

    from .functions.textfn import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    r = tc.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.col("freq").desc(), "w")
        ),
    )
    return r.filter(F.col("rk") <= 5).select(
        "source",
        F.col("rk").cast("long").alias("rank"),
        F.col("w").alias("term"),
        "freq",
    )


@register(
    "q293_return_rates",
    """
    SELECT CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                // 1000000 AS BIGINT) AS price_band_10k_cents,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST((sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 * 1000) // count(*) AS BIGINT) AS return_permille
    FROM lineitem GROUP BY 1
    """,
)
def q293_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETURN RATE by price band: do expensive items come back more?
    — the merchandising question behind every return-policy change,
    as one scan-side banded aggregate (integer 10k-cent bands shared
    with q276's surface, so the two reports join on band).  Rates in
    integer permille; a flat profile here is the fixture's honest
    answer."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.expr(
            "CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
            " DIV 1000000 AS BIGINT)"
        ).alias("price_band_10k_cents")
    ).agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
        F.expr(
            "CAST((sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
            " * 1000) DIV count(*) AS BIGINT)"
        ).alias("return_permille"),
    )


@register(
    "q294_lang_vocab_overlap",
    """
    WITH lw AS (SELECT DISTINCT lang,
                       unnest(string_split_regex(lower(text), '\\s+')) AS w
                FROM documents),
    lw2 AS (SELECT lang, w FROM lw WHERE w <> ''),
    p AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM lw2 a JOIN lw2 b ON a.w = b.w AND a.lang < b.lang
          GROUP BY 1, 2),
    sz AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM lw2
           GROUP BY lang)
    SELECT p.lang_a, p.lang_b, p.n_common,
           za.n AS n_a, zb.n AS n_b,
           CAST((p.n_common * 1000) // (za.n + zb.n - p.n_common)
                AS BIGINT) AS jaccard_permille
    FROM p JOIN sz za ON p.lang_a = za.lang
           JOIN sz zb ON p.lang_b = zb.lang
    """,
)
def q294_lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY overlap between language pairs: Jaccard of the
    distinct word sets — the quantitative basis for q265's confusion
    diagonal (languages sharing half their surface vocabulary WILL
    confuse a lexicon detector; disjoint ones should never).  The
    per-language vocab sets join on the word (vocabulary-sized, not
    corpus-sized); 10 pairs, integer permille."""
    from .functions.textfn import tokenize

    docs = load_table(spark, sf_dir, "documents")
    lw = (
        docs.select("lang", F.explode(tokenize(F.col("text"))).alias("w"))
        .distinct()
    )
    a = lw.select(F.col("lang").alias("lang_a"), F.col("w").alias("wa"))
    b = lw.select(F.col("lang").alias("lang_b"), F.col("w").alias("wb"))
    p = (
        a.join(
            b,
            (F.col("wa") == F.col("wb")) & (F.col("lang_a") < F.col("lang_b")),
        )
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sz = lw.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    za = sz.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(za), "lang_a")
        .join(F.broadcast(zb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr(
                "CAST((n_common * 1000) DIV (n_a + n_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_permille"),
        )
    )


@register(
    "q295_ytd_matrix",
    """
    WITH m AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                      CAST(month(o_orderdate) AS BIGINT) AS mo,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
               FROM orders GROUP BY 1, 2)
    SELECT yr, mo, CAST(cents AS BIGINT) AS month_cents,
           CAST(sum(cents) OVER (PARTITION BY yr ORDER BY mo
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS ytd_cents
    FROM m
    """,
)
def q295_ytd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YEAR-TO-DATE running totals: monthly revenue with its YTD
    cumulative, partitioned so each January RESETS — the finance
    report shape (q272's reach cumulates forever; fiscal reporting
    cumulates within the year), one year-partitioned ordered window
    over the ~80-row monthly aggregate, exact cents."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    w = (
        Window.partitionBy("yr")
        .orderBy("mo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        "yr",
        "mo",
        F.col("cents").cast("long").alias("month_cents"),
        F.sum("cents").over(w).cast("long").alias("ytd_cents"),
    )


@register(
    "q296_brand_share_trend",
    """
    WITH rev AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
                        p.p_brand AS brand,
                        sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                            * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                          AS BIGINT))) AS e4
                 FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN part p ON l.l_partkey = p.p_partkey
                 GROUP BY 1, 2),
    top5 AS (SELECT brand FROM (SELECT brand, sum(e4) AS t FROM rev
                                GROUP BY brand)
             ORDER BY t DESC, brand LIMIT 5),
    lab AS (SELECT yr,
                   CASE WHEN brand IN (SELECT brand FROM top5)
                        THEN brand ELSE 'OTHER' END AS brand_group,
                   e4
            FROM rev),
    g AS (SELECT yr, brand_group, sum(e4) AS e4 FROM lab GROUP BY 1, 2),
    t AS (SELECT yr, sum(e4) AS tot FROM g GROUP BY yr)
    SELECT g.yr, g.brand_group,
           CAST(g.e4 AS BIGINT) AS revenue_e4,
           CAST((CAST(g.e4 AS HUGEINT) * 1000) // t.tot AS BIGINT)
             AS share_permille
    FROM g JOIN t ON g.yr = t.yr
    """,
)
def q296_brand_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARE-OF-VOICE trend: the top-5 brands' (plus OTHER's) revenue
    share per year — is the market concentrating or fragmenting over
    time?  (q285 is the snapshot; trends are what category managers
    actually watch.)  The top-5 set is fixed ACROSS years from
    all-time revenue — a per-year top-5 would silently swap members
    and fake share jumps, the classic share-trend bug.  Shares in
    integer permille per year, DECIMAL against the value-sum
    class."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(e4).alias("e4"))
    )
    top5 = (
        rev.groupBy("brand")
        .agg(F.sum("e4").alias("t"))
        .orderBy(F.col("t").desc(), "brand")
        .limit(5)
        .select(F.col("brand").alias("tb"))
    )
    lab = rev.join(
        F.broadcast(top5), rev["brand"] == F.col("tb"), "left"
    ).select(
        "yr",
        F.when(F.col("tb").isNotNull(), F.col("brand"))
        .otherwise("OTHER")
        .alias("brand_group"),
        "e4",
    )
    g = lab.groupBy("yr", "brand_group").agg(F.sum("e4").alias("e4"))
    t = g.groupBy("yr").agg(F.sum("e4").alias("tot"))
    return g.join(F.broadcast(t), "yr").selectExpr(
        "yr", "brand_group",
        "CAST(e4 AS BIGINT) AS revenue_e4",
        "CAST((CAST(e4 AS DECIMAL(38,0)) * 1000) DIV tot AS BIGINT)"
        " AS share_permille",
    )


@register(
    "q297_sla_trend",
    """
    WITH lat AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
                        CAST(floor(epoch(l.l_shipdate) / 86400)
                             - floor(epoch(o.o_orderdate) / 86400)
                             AS BIGINT) AS days
                 FROM orders o
                 JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                 WHERE o.o_orderpriority = '1-URGENT'),
    h AS (SELECT yr, days, CAST(count(*) AS BIGINT) AS cnt
          FROM lat GROUP BY 1, 2),
    cum AS (SELECT yr, days, cnt,
                   sum(cnt) OVER (PARTITION BY yr ORDER BY days
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY yr) AS n
            FROM h)
    SELECT yr, CAST(max(n) AS BIGINT) AS n_items,
           CAST(min(CASE WHEN 2 * cum >= n THEN days END) AS BIGINT)
             AS median_days,
           CAST(min(CASE WHEN 20 * cum >= 19 * n THEN days END) AS BIGINT)
             AS p95_days
    FROM cum GROUP BY yr
    """,
)
def q297_sla_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URGENT-order SLA TREND: median and p95 fulfillment latency per
    year — the drift view of q223's snapshot (a p95 creeping up two
    days a year is invisible in any single quarter and obvious here).
    Same histogram-crossing quantiles, now per (year) partition;
    the priority filter pushes to the orders scan before the
    join."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    lat = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.year("o_orderdate").cast("long").alias("yr"),
        (
            F.floor(F.unix_timestamp(F.col("l_shipdate")) / 86400)
            - F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        )
        .cast("long")
        .alias("days"),
    )
    h = lat.groupBy("yr", "days").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("yr")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "yr",
        "days",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("yr")).alias("n"),
    )
    return cum.groupBy("yr").agg(
        F.max("n").cast("long").alias("n_items"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("days")))
        .cast("long")
        .alias("median_days"),
        F.min(F.when(20 * F.col("cum") >= 19 * F.col("n"), F.col("days")))
        .cast("long")
        .alias("p95_days"),
    )


@register(
    "q298_emerging_terms",
    """
    WITH med AS (SELECT CAST(max(doc_id) + min(doc_id) AS BIGINT) // 2
                   AS cut FROM documents),
    tok AS (SELECT CASE WHEN d.doc_id <= m.cut THEN 0 ELSE 1 END AS half,
                   unnest(string_split_regex(lower(d.text), '\\s+')) AS w
            FROM documents d CROSS JOIN med m),
    tc AS (SELECT w,
                  CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c0,
                  CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1
           FROM tok WHERE w <> '' GROUP BY w),
    g AS (SELECT w, c0, c1,
                 CAST(((c1 - c0) * 1000) // (c0 + c1) AS BIGINT)
                   AS growth_permille
          FROM tc WHERE c0 + c1 >= 50)
    SELECT w AS term, c0 AS early_count, c1 AS late_count,
           growth_permille
    FROM g ORDER BY growth_permille DESC, w LIMIT 20
    """,
)
def q298_emerging_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMERGING terms: vocabulary whose frequency grows most between
    the early and late document halves (doc_id as ingest order) —
    the trend-detection pass a corpus curator runs to catch topic
    drift before it skews a training mix (q267 watches the TYPE mix;
    this watches the CONTENT).  Growth is the symmetric
    (late-early)/total in integer permille with a min-support floor
    so rare words can't fake 1000-permille growth; deterministic
    top-20."""
    docs = load_table(spark, sf_dir, "documents")
    from .functions.textfn import tokenize

    med = docs.agg(
        F.expr("CAST(max(doc_id) + min(doc_id) AS BIGINT) DIV 2").alias(
            "cut"
        )
    )
    tok = docs.crossJoin(F.broadcast(med)).select(
        F.when(F.col("doc_id") <= F.col("cut"), 0).otherwise(1).alias(
            "half"
        ),
        F.explode(tokenize(F.col("text"))).alias("w"),
    )
    tc = tok.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    g = tc.filter(F.col("c0") + F.col("c1") >= 50).selectExpr(
        "w", "c0", "c1",
        "CAST(((c1 - c0) * 1000) DIV (c0 + c1) AS BIGINT)"
        " AS growth_permille",
    )
    return (
        g.select(
            F.col("w").alias("term"),
            F.col("c0").alias("early_count"),
            F.col("c1").alias("late_count"),
            "growth_permille",
        )
        .orderBy(F.col("growth_permille").desc(), "term")
        .limit(20)
    )


@register(
    "q299_whale_mix",
    """
    WITH sp AS (SELECT o_custkey,
                       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s
                FROM orders GROUP BY 1),
    r AS (SELECT o_custkey,
                 CASE WHEN 10 * (row_number() OVER (ORDER BY s DESC,
                                                    o_custkey) - 1)
                        < count(*) OVER ()
                      THEN 'top_decile' ELSE 'rest' END AS tier
          FROM sp),
    j AS (SELECT r.tier, o.o_orderpriority AS pri,
                 CAST(count(*) AS BIGINT) AS n
          FROM orders o JOIN r ON o.o_custkey = r.o_custkey
          GROUP BY 1, 2),
    t AS (SELECT tier, sum(n) AS tot FROM j GROUP BY tier)
    SELECT j.tier, j.pri, j.n,
           CAST((j.n * 1000) // t.tot AS BIGINT) AS share_permille
    FROM j JOIN t ON j.tier = t.tier
    """,
)
def q299_whale_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do WHALES order differently?  Priority mix of the top spend
    decile against everyone else — the behavioral-difference check
    behind every 'treat VIPs differently' proposal (identical mixes
    here = the honest null).  The decile cut is an integer rank
    predicate (10*(rank-1) < n), shares are per-tier permille;
    one rank window over the per-customer aggregate and one
    broadcast join back onto orders."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    sp = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("s")
    )
    r = sp.select(
        "o_custkey",
        F.when(
            10
            * (
                F.row_number().over(
                    Window.orderBy(F.col("s").desc(), "o_custkey")
                )
                - 1
            )
            < F.count("*").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
            "top_decile",
        )
        .otherwise("rest")
        .alias("tier"),
    )
    j = (
        orders.join(F.broadcast(r), "o_custkey")
        .groupBy("tier", F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    t = j.groupBy("tier").agg(F.sum("n").alias("tot"))
    return j.join(F.broadcast(t), "tier").select(
        "tier",
        "pri",
        "n",
        F.expr("CAST((n * 1000) DIV tot AS BIGINT)").alias(
            "share_permille"
        ),
    )


@register(
    "q300_executive_summary",
    """
    WITH rev AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
                        CAST(count(DISTINCT o_custkey) AS BIGINT)
                          AS n_customers,
                        CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                             AS BIGINT) AS revenue_cents
                 FROM orders),
    li AS (SELECT CAST(count(*) AS BIGINT) AS n_lineitems FROM lineitem),
    topn AS (SELECT c.c_nationkey AS top_nation
             FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             GROUP BY 1
             ORDER BY sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                        DESC, 1
             LIMIT 1),
    docs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(count(*) - count(DISTINCT
                      md5(trim(regexp_replace(lower(substr(text, 1, 100)),
                                              '\\s+', ' ', 'g'))))
                      AS BIGINT) AS n_prefix_dups
             FROM documents),
    ev AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events)
    SELECT rev.n_orders, rev.n_customers, rev.revenue_cents,
           CAST(rev.revenue_cents // rev.n_orders AS BIGINT) AS aov_cents,
           li.n_lineitems,
           CAST(topn.top_nation AS BIGINT) AS top_nation,
           docs.n_docs, docs.n_prefix_dups,
           ev.n_events, ev.n_users
    FROM rev, li, topn, docs, ev
    """,
)
def q300_executive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 300th entry: a ONE-ROW executive summary spanning every
    domain in the warehouse — orders/customers/revenue/AOV from the
    fact, the top nation, corpus size and prefix-dup count, event
    and user counts — the number tiles on page one of any BI
    deployment, each a 1-row aggregate broadcast into a single
    cross-joined row (five tiny sub-aggregates, no correlated
    anything).  Every figure is produced elsewhere in this
    inventory with full provenance; this is the front page."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    from .functions.textfn import normalize_ws

    rev = orders.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )
    lin = li.agg(F.count("*").cast("long").alias("n_lineitems"))
    topn = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("top_nation"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
                "s"
            )
        )
        .orderBy(F.col("s").desc(), "top_nation")
        .limit(1)
        .select("top_nation")
    )
    dc = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        (
            F.count("*")
            - F.countDistinct(
                F.md5(normalize_ws(F.substring(F.col("text"), 1, 100)))
            )
        )
        .cast("long")
        .alias("n_prefix_dups"),
    )
    ec = ev.agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return (
        rev.crossJoin(F.broadcast(lin))
        .crossJoin(F.broadcast(topn))
        .crossJoin(F.broadcast(dc))
        .crossJoin(F.broadcast(ec))
        .selectExpr(
            "n_orders", "n_customers", "revenue_cents",
            "CAST(revenue_cents DIV n_orders AS BIGINT) AS aov_cents",
            "n_lineitems",
            "CAST(top_nation AS BIGINT) AS top_nation",
            "n_docs", "n_prefix_dups", "n_events", "n_users",
        )
    )


@register(
    "q301_kendall_tau",
    """
    WITH c AS (SELECT c_custkey, c_nationkey,
                      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
               FROM customer),
    sp AS (SELECT o_custkey,
                  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS spend
           FROM orders GROUP BY 1),
    j AS (SELECT c.c_nationkey AS nk, c.c_custkey AS id, c.bal,
                 COALESCE(sp.spend, 0) AS spend
          FROM c LEFT JOIN sp ON c.c_custkey = sp.o_custkey),
    pairs AS (SELECT a.nk,
                     CASE WHEN (a.bal - b.bal) * (a.spend - b.spend) > 0
                          THEN 1 ELSE 0 END AS conc,
                     CASE WHEN (a.bal - b.bal) * (a.spend - b.spend) < 0
                          THEN 1 ELSE 0 END AS disc
              FROM j a JOIN j b ON a.nk = b.nk AND a.id < b.id)
    SELECT nk AS nationkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(conc) AS BIGINT) AS concordant,
           CAST(sum(disc) AS BIGINT) AS discordant,
           CAST(((sum(conc) - sum(disc)) * 1000000) // count(*) AS BIGINT)
             AS tau_ppm
    FROM pairs GROUP BY nk
    """,
)
def q301_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau between balance and spend per nation — the
    PAIRWISE-concordance view of the association q197's Spearman
    measures by ranks (tau is more robust to outliers and has the
    cleaner probabilistic reading: P(concordant)-P(discordant)).
    Counted exactly over within-nation pairs — the self-join is
    BOUNDED per nation (the q128 bucket argument: Σ|group|², never
    |table|²), the sign test is pure integer products, tau is
    signed integer-division ppm (numerator can be negative; both
    engines floor-divide the same HUGEINT/DECIMAL path and the
    committed values pin agreement)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c = cust.select(
        "c_custkey", "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal"),
    )
    sp = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "spend"
        )
    )
    j = c.join(sp, c["c_custkey"] == sp["o_custkey"], "left").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("id"),
        "bal",
        F.coalesce(F.col("spend"), F.lit(0)).alias("spend"),
    )
    a, b = j.alias("a"), j.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nk") == F.col("b.nk")) & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.nk").alias("nk"),
        F.when(
            (F.col("a.bal") - F.col("b.bal"))
            * (F.col("a.spend") - F.col("b.spend"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            (F.col("a.bal") - F.col("b.bal"))
            * (F.col("a.spend") - F.col("b.spend"))
            < 0,
            1,
        )
        .otherwise(0)
        .alias("disc"),
    )
    return pairs.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        F.expr(
            "CAST(((sum(conc) - sum(disc)) * 1000000) DIV count(*)"
            " AS BIGINT)"
        ).alias("tau_ppm"),
    )


@register(
    "q302_theil_index",
    """
    WITH o AS (SELECT c.c_nationkey AS nk,
                      CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               WHERE o.o_totalprice > 0)
    SELECT nk AS nationkey, CAST(count(*) AS BIGINT) AS n,
           ROUND(sum(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))) / sum(x)
                 - ln(CAST(sum(x) AS DOUBLE) / count(*)), 6) AS theil
    FROM o GROUP BY nk
    """,
)
def q302_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality per nation — the ENTROPY-based index
    (mean of (x/μ)ln(x/μ)) that, unlike q198's Gini, DECOMPOSES
    exactly into within-group + between-group terms at any
    hierarchy level — the property national statistics offices pick
    it for.  Computed via the un-nested identity
    T = Σx·ln(x)/S - ln(S/n), so one aggregate pass carries it with
    no per-row share column; ln on exact integers is the q156
    contract, one 6dp round."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = (
        orders.filter(F.col("o_totalprice") > 0)
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("x"),
        )
    )
    # the decomposed identity T = Σx·ln(x)/S - ln(S/n) keeps every
    # aggregate un-nested (one pass, no per-row share materialized)
    return o.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.expr(
                "sum(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))) / sum(x)"
                " - ln(CAST(sum(x) AS DOUBLE) / count(*))"
            ),
            6,
        ).alias("theil"),
    )


@register(
    "q303_cadence_burstiness",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day, o_orderkey
               FROM orders),
    g AS (SELECT c.c_mktsegment AS segment,
                 o.day - lag(o.day) OVER (PARTITION BY o.o_custkey
                                          ORDER BY o.day, o.o_orderkey)
                   AS gap
          FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
    s AS (SELECT segment,
                 CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(gap) AS HUGEINT) AS sg,
                 sum(CAST(gap AS HUGEINT) * gap) AS sgg
          FROM g WHERE gap IS NOT NULL GROUP BY segment)
    SELECT segment, CAST(n AS BIGINT) AS n_gaps,
           CAST(sg // n AS BIGINT) AS mean_gap_days,
           CAST(((n * sgg - sg * sg) * 1000000) // (sg * sg) AS BIGINT)
             AS cv2_ppm
    FROM s
    """,
)
def q303_cadence_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-cadence BURSTINESS per segment: the squared coefficient
    of variation of inter-order gaps — CV² = 1 is the Poisson
    (memoryless) signature, above is bursty, below is regular —
    THE one-number answer to 'do customers order on a schedule or
    in sprees' (q200 gives the gap quantiles; CV² is the
    shape-class).  n·Σg²-(Σg)² over (Σg)² in pure DECIMAL/HUGEINT
    ppm — no float variance, no mean materialized."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.select(
        "o_custkey",
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
        "o_orderkey",
    )
    wl = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    g = (
        o.withColumn("gap", F.col("day") - F.lag("day").over(wl))
        .filter(F.col("gap").isNotNull())
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "gap")
    )
    dg = F.col("gap").cast("decimal(38,0)")
    s = g.groupBy("segment").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("gap").cast("decimal(38,0)").alias("sg"),
        F.sum(dg * dg).alias("sgg"),
    )
    return s.selectExpr(
        "segment",
        "CAST(n AS BIGINT) AS n_gaps",
        "CAST(sg DIV n AS BIGINT) AS mean_gap_days",
        "CAST(((n * sgg - sg * sg) * 1000000) DIV (sg * sg) AS BIGINT)"
        " AS cv2_ppm",
    )


@register(
    "q304_kpi_tree",
    """
    WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                      CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs,
                      CAST(count(*) AS BIGINT) AS orders,
                      CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                           AS BIGINT) AS cents
               FROM orders GROUP BY 1)
    SELECT yr, custs, orders, cents,
           CAST((orders * 1000) // custs AS BIGINT)
             AS orders_per_cust_permille,
           CAST(cents // orders AS BIGINT) AS aov_cents,
           ROUND(ln(CAST(custs AS DOUBLE)) + ln(CAST(orders AS DOUBLE)
                                                / custs)
                 + ln(CAST(cents AS DOUBLE) / orders)
                 - ln(CAST(cents AS DOUBLE)), 9) AS ln_identity_check
    FROM y
    """,
)
def q304_kpi_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiplicative KPI TREE per year: revenue = customers x
    orders-per-customer x value-per-order, each factor emitted in
    exact integer units plus the LOG-IDENTITY residual (ln-sum minus
    ln-total, ~0 to 9dp) proving the decomposition multiplies back
    EXACTLY — the growth-accounting frame that turns 'revenue is
    down 8%' into which lever moved (q247 decomposes by segment;
    this decomposes by MECHANISM).  One yearly aggregate carries
    everything."""
    orders = load_table(spark, sf_dir, "orders")
    y = orders.groupBy(F.year("o_orderdate").cast("long").alias("yr")).agg(
        F.countDistinct("o_custkey").cast("long").alias("custs"),
        F.count("*").cast("long").alias("orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    return y.selectExpr(
        "yr", "custs", "orders", "cents",
        "CAST((orders * 1000) DIV custs AS BIGINT)"
        " AS orders_per_cust_permille",
        "CAST(cents DIV orders AS BIGINT) AS aov_cents",
        "ROUND(ln(CAST(custs AS DOUBLE)) + ln(CAST(orders AS DOUBLE)"
        " / custs) + ln(CAST(cents AS DOUBLE) / orders)"
        " - ln(CAST(cents AS DOUBLE)), 9) AS ln_identity_check",
    )


@register(
    "q305_range_window",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
               FROM orders GROUP BY 1)
    SELECT day, CAST(x AS BIGINT) AS day_cents,
           CAST(sum(x) OVER (ORDER BY day
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rolling7_cents,
           CAST(count(*) OVER (ORDER BY day
                               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS days_present
    FROM d
    """,
)
def q305_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed rolling 7-day revenue: the frame is bounded by
    the day VALUE (day-6 .. day), not by row count — on a series
    with missing days a ROWS frame silently stretches its window
    over the gap (q66/q123 avoid this by zero-filled spines; the
    RANGE frame is the engine-native alternative that needs no
    spine), and the days_present column makes the gap handling
    visible.  One value-framed window over the daily aggregate —
    the last ANSI frame type without a dedicated green entry."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("x"))
    w = Window.orderBy("day").rangeBetween(-6, 0)
    return d.select(
        "day",
        F.col("x").cast("long").alias("day_cents"),
        F.sum("x").over(w).cast("long").alias("rolling7_cents"),
        F.count("*").over(w).cast("long").alias("days_present"),
    )


@register(
    "q306_aggregation_reversal",
    """
    WITH b AS (SELECT c.c_nationkey AS nk,
                      CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) AS x,
                      CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS y
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey),
    s AS (SELECT nk,
                 CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy
          FROM b GROUP BY nk),
    g AS (SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
                 sum(sxx) AS sxx, sum(syy) AS syy, sum(sxy) AS sxy
          FROM s),
    signs AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                     CAST(sum(CASE WHEN s.n * s.sxy - s.sx * s.sy > 0
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                     CAST(sum(CASE WHEN s.n * s.sxy - s.sx * s.sy < 0
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
              FROM s)
    SELECT ROUND(CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                 / sqrt(CAST((g.n * g.sxx - g.sx * g.sx) AS DOUBLE)
                        * CAST((g.n * g.syy - g.sy * g.sy) AS DOUBLE)), 6)
             AS pooled_corr,
           signs.n_groups, signs.n_pos, signs.n_neg
    FROM g, signs
    """,
)
def q306_aggregation_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX screen: the pooled discount-quantity
    correlation next to the per-nation association SIGN census —
    when n_pos and n_neg split while the pooled r leans one way,
    group structure is confounding the aggregate and q222's
    per-group numbers are the ones to trust.  Per-group signs come
    from the EXACT integer covariance numerator n·Σxy-ΣxΣy (no
    float ever decides a sign); only the pooled r touches doubles,
    once.  The per-group moments ALSO sum exactly into the pooled
    moments — one aggregation tree, two readings."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    b = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("x"),
            F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("y"),
        )
    )
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    s = b.groupBy("nk").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
        F.sum(dx * dy).alias("sxy"),
    )
    g = s.agg(
        F.sum("n").alias("n"), F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"), F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"), F.sum("sxy").alias("sxy"),
    )
    signs = s.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(
            F.when(
                F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy") > 0, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_pos"),
        F.sum(
            F.when(
                F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy") < 0, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_neg"),
    )
    return g.crossJoin(F.broadcast(signs)).selectExpr(
        "ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)"
        "        * CAST((n * syy - sy * sy) AS DOUBLE)), 6) AS pooled_corr",
        "n_groups", "n_pos", "n_neg",
    )


@register(
    "q307_similarity_transitivity",
    f"""
    WITH sh0 AS MATERIALIZED ({_SQL_SHINGLE3}),
    seeds AS (SELECT unnest(['0','1','2','3','4','5','6','7']) AS seed),
    sig AS MATERIALIZED (
      SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS mh
      FROM sh0 CROSS JOIN seeds GROUP BY doc_id, seed),
    p AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.seed = b.seed AND a.mh = b.mh
                           AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM p
                       UNION ALL SELECT doc_b, doc_a FROM p),
    w AS (SELECT a.u AS x, a.v AS mid, b.v AS z
          FROM e a JOIN e b ON a.v = b.u AND a.u < b.v),
    closed AS (SELECT CAST(count(*) AS BIGINT) AS n_wedges,
                      CAST(sum(CASE WHEN EXISTS
                        (SELECT 1 FROM p WHERE p.doc_a = w.x
                                           AND p.doc_b = w.z)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
               FROM w)
    SELECT n_wedges, n_closed,
           CAST(CASE WHEN n_wedges = 0 THEN 0
                     ELSE (n_closed * 1000) // n_wedges END AS BIGINT)
             AS closure_permille
    FROM closed
    """,
)
def q307_similarity_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is near-duplicate similarity TRANSITIVE here?  Count the open
    wedges (A~B, B~C without A~C) in the LSH candidate graph — the
    number that says how much q56's connected components OVER-MERGE
    relative to pairwise similarity (a closure near 1000 permille
    means components = cliques and cluster-dedup is safe; low
    closure means chains of borderline pairs are welding clusters).
    Wedges enumerate from the symmetrized pair list (bounded by
    Σdeg², the q128 argument); closure is a semi-join flag sum."""
    from .operators.dedup import lsh_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    p = lsh_candidate_pairs(docs, on_overflow="error").select(
        "doc_a", "doc_b"
    )
    e = p.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        p.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    a, b = e.alias("a"), e.alias("b")
    w = a.join(
        b, (F.col("a.v") == F.col("b.u")) & (F.col("a.u") < F.col("b.v"))
    ).select(F.col("a.u").alias("x"), F.col("b.v").alias("z"))
    closed_flag = w.join(
        F.broadcast(p),
        (F.col("x") == F.col("doc_a")) & (F.col("z") == F.col("doc_b")),
        "left",
    ).select(
        F.when(F.col("doc_a").isNotNull(), 1).otherwise(0).alias("closed")
    )
    c = closed_flag.agg(
        F.count("*").cast("long").alias("n_wedges"),
        F.sum("closed").cast("long").alias("n_closed"),
    )
    return c.selectExpr(
        "n_wedges", "n_closed",
        "CAST(CASE WHEN n_wedges = 0 THEN 0"
        " ELSE (n_closed * 1000) DIV n_wedges END AS BIGINT)"
        " AS closure_permille",
    )


@register(
    "q308_expected_shortfall",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
               FROM orders GROUP BY 1),
    h AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY x),
    cum AS (SELECT x, cnt,
                   sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                     AS cum,
                   sum(cnt) OVER () AS n
            FROM h),
    cuts AS (SELECT unnest([50, 10]) AS pm),
    v AS (SELECT c.pm,
                 min(CASE WHEN 1000 * cum >= c.pm * n THEN x END) AS var_x
          FROM cum CROSS JOIN cuts c GROUP BY c.pm),
    tail AS (SELECT v.pm, v.var_x,
                    CAST(sum(h.x * h.cnt) AS BIGINT) AS tail_cents,
                    CAST(sum(h.cnt) AS BIGINT) AS tail_days
             FROM h JOIN v ON h.x <= v.var_x
             GROUP BY v.pm, v.var_x)
    SELECT pm AS level_permille,
           CAST(var_x AS BIGINT) AS var_cents,
           tail_days,
           CAST(tail_cents // tail_days AS BIGINT) AS es_cents
    FROM tail
    """,
)
def q308_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-AT-RISK and EXPECTED SHORTFALL of daily revenue at the
    5% and 1% levels: the worst-case threshold (VaR, a histogram
    crossing) and the MEAN of the days at or below it (ES — the
    coherent tail measure regulators moved to because VaR ignores
    how bad the tail is once entered).  Both levels read off ONE
    cumulative histogram; the tail mean is an exact integer floor
    over the tail slice.  q279's drawdown is the path-wise risk
    view; this is the distributional one."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("x"))
    h = d.groupBy("x").agg(F.count("*").alias("cnt"))
    cum = h.select(
        "x",
        "cnt",
        F.sum("cnt")
        .over(
            Window.orderBy("x").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    cuts = d.sparkSession.createDataFrame([(50,), (10,)], "pm long")
    v = (
        cum.crossJoin(F.broadcast(cuts))
        .groupBy("pm")
        .agg(
            F.min(
                F.when(
                    1000 * F.col("cum") >= F.col("pm") * F.col("n"),
                    F.col("x"),
                )
            ).alias("var_x")
        )
    )
    tail = (
        h.crossJoin(F.broadcast(v))
        .filter(F.col("x") <= F.col("var_x"))
        .groupBy("pm", "var_x")
        .agg(
            F.sum(F.col("x") * F.col("cnt")).cast("long").alias("tail_cents"),
            F.sum("cnt").cast("long").alias("tail_days"),
        )
    )
    return tail.selectExpr(
        "pm AS level_permille",
        "CAST(var_x AS BIGINT) AS var_cents",
        "tail_days",
        "CAST(tail_cents DIV tail_days AS BIGINT) AS es_cents",
    )


@register(
    "q309_session_count_histogram",
    """
    WITH e AS (SELECT user_id, event_id,
                      CAST(epoch_us(ts) AS BIGINT) AS us
               FROM events),
    m AS (SELECT user_id, CASE WHEN lag(us) OVER w IS NULL
                                 OR us - lag(us) OVER w > 1800000000
                               THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    per AS (SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions
            FROM m GROUP BY user_id)
    SELECT n_sessions, CAST(count(*) AS BIGINT) AS n_users
    FROM per GROUP BY n_sessions
    """,
)
def q309_session_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions-per-user HISTOGRAM: how many users had exactly N
    30-minute sessions over the month — the engagement-depth
    distribution whose shape (geometric vs bimodal) decides whether
    'average sessions' means anything (q209's stickiness is the
    mean view; this is the whole curve).  The session count per
    user is just Σ is_new — no session ids materialized at all —
    then a bounded census."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    m = ev.select(
        "user_id",
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    per = m.groupBy("user_id").agg(
        F.sum("is_new").cast("long").alias("n_sessions")
    )
    return per.groupBy("n_sessions").agg(
        F.count("*").cast("long").alias("n_users")
    )


@register(
    "q310_mix_stability",
    """
    WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                      o_orderpriority AS pri,
                      CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY 1, 2),
    t AS (SELECT yr, sum(n) AS tot FROM y GROUP BY yr),
    sh AS (SELECT y.pri, y.yr,
                  CAST((y.n * 1000) // t.tot AS BIGINT) AS share
           FROM y JOIN t ON y.yr = t.yr)
    SELECT pri,
           CAST(count(*) AS BIGINT) AS n_years,
           CAST(min(share) AS BIGINT) AS min_share_permille,
           CAST(max(share) AS BIGINT) AS max_share_permille,
           CAST(max(share) - min(share) AS BIGINT) AS swing_permille
    FROM sh GROUP BY pri
    """,
)
def q310_mix_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY-MIX stability: each priority's order share per year
    collapsed to its min/max/swing across the history — the
    one-glance answer to 'has the order mix ever shifted'
    (near-zero swings certify this fixture's generator is
    stationary, the premise q121/q267's drift monitors test against
    in windows).  Two bounded aggregates and integer permille
    shares."""
    orders = load_table(spark, sf_dir, "orders")
    y = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count("*").alias("n"))
    t = y.groupBy("yr").agg(F.sum("n").alias("tot"))
    sh = y.join(F.broadcast(t), "yr").selectExpr(
        "pri", "yr", "CAST((n * 1000) DIV tot AS BIGINT) AS share"
    )
    return sh.groupBy("pri").agg(
        F.count("*").cast("long").alias("n_years"),
        F.min("share").cast("long").alias("min_share_permille"),
        F.max("share").cast("long").alias("max_share_permille"),
        (F.max("share") - F.min("share"))
        .cast("long")
        .alias("swing_permille"),
    )


@register(
    "q311_first_order_predicts",
    """
    WITH fo AS (SELECT o_custkey, min(o_orderdate) AS fd,
                       CAST(count(*) AS BIGINT) AS n_orders
                FROM orders GROUP BY 1),
    fk AS (SELECT f.o_custkey, f.n_orders,
                  min(o.o_orderkey) AS first_key
           FROM fo f JOIN orders o ON f.o_custkey = o.o_custkey
                                  AND f.fd = o.o_orderdate
           GROUP BY 1, 2),
    sz AS (SELECT fk.o_custkey, fk.n_orders,
                  CAST(count(*) AS BIGINT) AS first_lines
           FROM fk JOIN lineitem l ON fk.first_key = l.l_orderkey
           GROUP BY 1, 2)
    SELECT first_lines,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST((sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) * 1000)
                // count(*) AS BIGINT) AS repeat_permille
    FROM sz GROUP BY first_lines
    """,
)
def q311_first_order_predicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a BIG first order predict a repeat customer?  Repeat
    rate by the line count of each customer's FIRST order — the
    onboarding-quality signal acquisition teams act on (if 1-line
    first baskets never return, fix the first-purchase flow, not
    retention).  The first order is pinned deterministically
    (earliest date, then min orderkey for same-day ties); rates in
    integer permille per basket-size stratum."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    fo = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("fd"),
        F.count("*").cast("long").alias("n_orders"),
    )
    fk = (
        fo.join(
            orders.select("o_custkey", "o_orderdate", "o_orderkey"),
            ["o_custkey"],
        )
        .filter(F.col("o_orderdate") == F.col("fd"))
        .groupBy("o_custkey", "n_orders")
        .agg(F.min("o_orderkey").alias("first_key"))
    )
    sz = (
        fk.join(li, fk["first_key"] == li["l_orderkey"])
        .groupBy("o_custkey", "n_orders")
        .agg(F.count("*").cast("long").alias("first_lines"))
    )
    return sz.groupBy("first_lines").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat"),
        F.expr(
            "CAST((sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) * 1000)"
            " DIV count(*) AS BIGINT)"
        ).alias("repeat_permille"),
    )


@register(
    "q312_dim_variance",
    """
    WITH x AS (SELECT g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
               FROM embeddings, generate_series(1, 64) g(i)),
    s AS (SELECT i, count(*) AS n, avg(v) AS mu,
                 sum(v * v) AS svv, sum(v) AS sv
          FROM x GROUP BY i)
    SELECT CAST(i - 1 AS BIGINT) AS dim,
           ROUND(sv / n, 6) AS mean,
           ROUND((svv - sv * sv / n) / (n - 1), 6) AS variance
    FROM s ORDER BY (svv - sv * sv / n) / (n - 1) DESC, i LIMIT 16
    """,
)
def q312_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION variance ranking of the embedding space: the 16
    highest-variance coordinates with their means — the cheap
    axis-aligned cousin of q225's principal direction (if a handful
    of raw dims carry most variance, PQ subspace splits and JL
    budgets should respect them; if variance is flat, the space is
    isotropic and rotation-invariant methods win).  One explode
    pass, per-dim moments, deterministic (variance, dim) top-16."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("i", "vf")).select(
        "i", F.col("vf").cast("double").alias("v")
    )
    s = x.groupBy("i").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum("v").alias("sv"),
    )
    return (
        s.selectExpr(
            "CAST(i AS BIGINT) AS dim",
            "ROUND(sv / n, 6) AS mean",
            "ROUND((svv - sv * sv / n) / (n - 1), 6) AS variance",
            "(svv - sv * sv / n) / (n - 1) AS vraw",
            "i AS iord",
        )
        .orderBy(F.col("vraw").desc(), "iord")
        .limit(16)
        .select("dim", "mean", "variance")
    )


@register(
    "q313_supplier_load_balance",
    """
    WITH per AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
                 FROM lineitem GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(n) AS BIGINT) AS n_items,
           CAST(min(n) AS BIGINT) AS min_load,
           CAST(sum(n) // count(*) AS BIGINT) AS avg_load,
           CAST(max(n) AS BIGINT) AS max_load,
           CAST((max(n) * count(*) * 1000) // sum(n) AS BIGINT)
             AS imbalance_permille
    FROM per
    """,
)
def q313_supplier_load_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier LOAD-BALANCE factor: max/mean line-item load in
    permille (1000 = perfectly even; the shuffle-skew number q218
    profiles per COLUMN, here read for the business entity that
    becomes the partition key at scale) — an imbalance factor of
    3000 means the hottest supplier's partition runs 3x the average
    task and q75/q82's salting earns its keep.  One partial
    aggregate, one 1-row reduce, integer permille (max·n·1000/Σ —
    no float mean)."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(F.count("*").alias("n"))
    return per.agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("n").cast("long").alias("n_items"),
        F.min("n").cast("long").alias("min_load"),
        F.expr("CAST(sum(n) DIV count(*) AS BIGINT)").alias("avg_load"),
        F.max("n").cast("long").alias("max_load"),
        F.expr(
            "CAST((max(n) * count(*) * 1000) DIV sum(n) AS BIGINT)"
        ).alias("imbalance_permille"),
    )


@register(
    "q314_status_consistency",
    """
    SELECT o.o_orderstatus, l.l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    """,
)
def q314_status_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status x line-status CONSISTENCY matrix: in clean TPC-H
    data an 'F' order implies all-'F' lines and an 'O' order
    all-'O' — off-diagonal mass here is state-machine corruption
    (partial fulfillment written without updating the header), the
    workflow analogue of q274's sequence audit.  One joined
    aggregate, at most 6 cells; whatever mass the fixture puts off
    the diagonal is the finding, exactly counted."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderstatus", "l_linestatus")
        .agg(F.count("*").cast("long").alias("n_lines"))
    )


@register(
    "q315_mann_whitney",
    """
    WITH a AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
               FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
          FROM orders WHERE o_orderpriority = '5-LOW'),
    hb AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY v),
    cb AS (SELECT v, cnt,
                  COALESCE(sum(cnt) OVER (ORDER BY v ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
                  sum(cnt) OVER () AS nb
           FROM hb),
    ha AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM a GROUP BY v),
    u AS (SELECT CAST(sum(ha.cnt *
                   COALESCE((SELECT max(cb.below + cb.cnt) FROM cb
                             WHERE cb.v < ha.v), 0)) AS HUGEINT) AS u_strict,
                 CAST(sum(ha.cnt *
                   COALESCE((SELECT max(cb.cnt) FROM cb
                             WHERE cb.v = ha.v), 0)) AS HUGEINT) AS ties,
                 CAST(sum(ha.cnt) AS HUGEINT) AS na
          FROM ha),
    nn AS (SELECT CAST(sum(cnt) AS HUGEINT) AS nb FROM hb)
    SELECT CAST(u.na AS BIGINT) AS n_urgent,
           CAST(nn.nb AS BIGINT) AS n_low,
           CAST(u.u_strict AS BIGINT) AS u_strict,
           CAST(u.ties AS BIGINT) AS n_tie_pairs,
           CAST(((2 * u.u_strict + u.ties - u.na * nn.nb) * 1000000)
                // (u.na * nn.nb) AS BIGINT) AS rank_biserial_ppm
    FROM u, nn
    """,
)
def q315_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U between urgent and low-priority order values —
    the distribution-free 'is one group stochastically larger'
    test — computed EXACTLY from histograms: U = Σ_a cnt_a ·
    |{b < a}| via the cumulative histogram of B, never the O(n²)
    pair walk and never a pooled global rank sort.  Ties counted
    separately (U with half-tie convention folds in as 2U+ties);
    the rank-biserial effect size (2U+T-nm)/(nm) emits in signed
    integer ppm.  ~0 here is the fixture's honest null — priorities
    don't change prices.  Core factored to
    :func:`operators.stats.mann_whitney_u` (shared with the 4M-row
    scale smoke)."""
    from .operators.stats import mann_whitney_u

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        cents.alias("v")
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        cents.alias("v")
    )
    return mann_whitney_u(a, b).selectExpr(
        "na AS n_urgent",
        "nb AS n_low",
        "u_strict",
        "ties AS n_tie_pairs",
        "rank_biserial_ppm",
    )


@register(
    "q316_ks_statistic",
    """
    WITH a AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
               FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
          FROM orders WHERE o_orderpriority = '5-LOW'),
    u AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
                 CAST(sum(cb) AS BIGINT) AS cb
          FROM (SELECT v, 1 AS ca, 0 AS cb FROM a
                UNION ALL SELECT v, 0, 1 FROM b) t
          GROUP BY v),
    c AS (SELECT v,
                 sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cuma,
                 sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cumb,
                 sum(ca) OVER () AS na, sum(cb) OVER () AS nb
          FROM u)
    SELECT CAST(max(na) AS BIGINT) AS n_urgent,
           CAST(max(nb) AS BIGINT) AS n_low,
           CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
           CAST((max(abs(cuma * nb - cumb * na)) * 1000000)
                // (max(na) * max(nb)) AS BIGINT) AS ks_ppm
    FROM c
    """,
)
def q316_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV distance between urgent and
    low-priority order values: max |F_A - F_B| over the merged value
    grid — the whole-distribution companion to q315's U (U can miss
    equal-median shape differences; KS cannot).  The sup runs over
    one merged cumulative histogram, and the statistic stays EXACT
    by cross-multiplying (|cumA·nb - cumB·na|, never the float
    CDFs) until a single ppm division at the end.  Core factored to
    :func:`operators.stats.ks_statistic` (shared with the 4M-row
    scale smoke)."""
    from .operators.stats import ks_statistic

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        cents.alias("v")
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        cents.alias("v")
    )
    return ks_statistic(a, b).selectExpr(
        "na AS n_urgent", "nb AS n_low", "d_num", "ks_ppm"
    )


@register(
    "q317_runs_test",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
               FROM orders GROUP BY 1),
    h AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY x),
    cum AS (SELECT x, sum(cnt) OVER (ORDER BY x
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(cnt) OVER () AS n
            FROM h),
    med AS (SELECT min(CASE WHEN 2 * cum >= n THEN x END) AS m FROM cum),
    sgn AS (SELECT d.day,
                   CASE WHEN d.x > med.m THEN 1 ELSE 0 END AS above
            FROM d, med),
    runs AS (SELECT above,
                    CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                           OR lag(above) OVER (ORDER BY day) <> above
                         THEN 1 ELSE 0 END AS is_new
             FROM sgn)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(above) AS BIGINT) AS n_above,
           CAST(count(*) - sum(above) AS BIGINT) AS n_below,
           CAST(sum(is_new) AS BIGINT) AS n_runs
    FROM runs
    """,
)
def q317_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ runs count on daily revenue: days flagged
    above/below the exact median, consecutive same-side days fused
    into runs — too FEW runs means sticky regimes (momentum), too
    many means oscillation; near the 2·n_a·n_b/n+1 expectation
    means memorylessness, q243's verdict by a test that needs no
    moments at all.  The median is a histogram crossing, the run
    labels are one lag window, the output is the exact integer
    census a test table turns into a z-score."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("x"))
    h = d.groupBy("x").agg(F.count("*").alias("cnt"))
    cum = h.select(
        "x",
        F.sum("cnt")
        .over(
            Window.orderBy("x").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    med = cum.agg(
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("x"))).alias("m")
    )
    sgn = d.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("above")
    )
    wl = Window.orderBy("day")
    runs = sgn.select(
        "above",
        F.when(
            F.lag("above").over(wl).isNull()
            | (F.lag("above").over(wl) != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return runs.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("above").cast("long").alias("n_above"),
        (F.count("*") - F.sum("above")).cast("long").alias("n_below"),
        F.sum("is_new").cast("long").alias("n_runs"),
    )


@register(
    "q318_durbin_watson",
    """
    WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                           AS BIGINT) AS month,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
               FROM orders GROUP BY 1),
    w AS (SELECT month, cents,
                 row_number() OVER (ORDER BY month) AS i,
                 count(*) OVER () AS n,
                 lag(cents, 6) OVER (ORDER BY month)
                   + lead(cents, 6) OVER (ORDER BY month)
                   + 2 * (sum(cents) OVER (ORDER BY month
                                           ROWS BETWEEN 5 PRECEDING
                                           AND 5 FOLLOWING)) AS trend_x24
          FROM m),
    r AS (SELECT month, 24 * cents - trend_x24 AS res
          FROM w WHERE i > 6 AND i <= n - 6),
    dd AS (SELECT res,
                  res - lag(res) OVER (ORDER BY month) AS dres
           FROM r),
    s AS (SELECT sum(CAST(dres AS HUGEINT) * dres) AS sdd,
                 sum(CAST(res AS HUGEINT) * res) AS srr,
                 CAST(count(*) AS BIGINT) AS n
          FROM dd)
    SELECT n AS n_months,
           CAST((sdd * 1000) // srr AS BIGINT) AS dw_permille
    FROM s
    """,
)
def q318_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON on the q219 detrended residuals: Σ(Δr)²/Σr² in
    exact integer permille (the x24 residual units square through
    DECIMAL/HUGEINT) — ~2000 permille means uncorrelated residuals
    (the decomposition took all the structure), toward 0 means the
    trend UNDER-fits (positive residual autocorrelation), toward
    4000 over-differencing.  The standard regression-diagnostic
    completing q287's R² — fit quality AND residual independence,
    both ppm-exact."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    wo = Window.orderBy("month")
    w = m.select(
        "month",
        "cents",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(
            Window.orderBy("month").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
        (
            F.lag("cents", 6).over(wo)
            + F.lead("cents", 6).over(wo)
            + 2 * F.sum("cents").over(wo.rowsBetween(-5, 5))
        ).alias("trend_x24"),
    )
    r = w.filter((F.col("i") > 6) & (F.col("i") <= F.col("n") - 6)).select(
        "month", (24 * F.col("cents") - F.col("trend_x24")).alias("res")
    )
    dd = r.select(
        "res", (F.col("res") - F.lag("res").over(Window.orderBy("month"))).alias("dres")
    )
    dr = F.col("dres").cast("decimal(38,0)")
    rr = F.col("res").cast("decimal(38,0)")
    s = dd.agg(
        F.sum(dr * dr).alias("sdd"),
        F.sum(rr * rr).alias("srr"),
        F.count("*").cast("long").alias("n"),
    )
    return s.selectExpr(
        "n AS n_months",
        "CAST((sdd * 1000) DIV srr AS BIGINT) AS dw_permille",
    )


@register(
    "q319_hhi_trend",
    """
    WITH rev AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
                        p.p_brand AS brand,
                        sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                            * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                          AS BIGINT))) AS e4
                 FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN part p ON l.l_partkey = p.p_partkey
                 GROUP BY 1, 2),
    t AS (SELECT yr, sum(e4) AS tot FROM rev GROUP BY yr)
    SELECT rev.yr,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum((CAST(rev.e4 AS HUGEINT) * 10000 // t.tot)
                    * (CAST(rev.e4 AS HUGEINT) * 10000 // t.tot))
                AS BIGINT) AS hhi_x1e8
    FROM rev JOIN t ON rev.yr = t.yr
    GROUP BY rev.yr
    """,
)
def q319_hhi_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-concentration HHI per YEAR — the antitrust index
    (Σ share²; 10000-basis-point shares squared, so 1e8 = monopoly)
    as a trend, answering whether the category is concentrating
    (q180 computes daily HHI over nations; q296 shows the share
    curves this number compresses).  Shares are floor-divided
    integer basis points BEFORE squaring — both engines floor the
    same way, so the index is reproducible bit-for-bit, the q133
    philosophy applied to an index definition."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(e4).alias("e4"))
    )
    t = rev.groupBy("yr").agg(F.sum("e4").alias("tot"))
    return (
        rev.join(F.broadcast(t), "yr")
        .selectExpr(
            "yr",
            "CAST(e4 AS DECIMAL(38,0)) * 10000 DIV tot AS bp",
        )
        .groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n_brands"),
            F.sum(F.col("bp") * F.col("bp")).cast("long").alias("hhi_x1e8"),
        )
    )


@register(
    "q320_peak_day_drill",
    """
    WITH daily AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                          CAST(count(*) AS BIGINT) AS n
                   FROM events GROUP BY 1),
    peak AS (SELECT day FROM daily ORDER BY n DESC, day LIMIT 1),
    hourly AS (SELECT CAST(hour(ts) AS BIGINT) AS hr,
                      CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
               FROM events),
    pk AS (SELECT h.hr, CAST(count(*) AS BIGINT) AS peak_count
           FROM hourly h JOIN peak p ON h.day = p.day
           GROUP BY h.hr),
    avgh AS (SELECT hr, CAST(count(*) AS BIGINT) AS total,
                    CAST(count(DISTINCT day) AS BIGINT) AS n_days
             FROM hourly GROUP BY hr)
    SELECT a.hr AS hour,
           COALESCE(pk.peak_count, 0) AS peak_day_count,
           CAST(a.total // a.n_days AS BIGINT) AS avg_day_count,
           CAST(COALESCE(pk.peak_count, 0) * 1000
                // (a.total // a.n_days) AS BIGINT) AS ratio_permille
    FROM avgh a LEFT JOIN pk ON a.hr = pk.hr
    """,
)
def q320_peak_day_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRILL into the busiest day: its hourly event profile side by
    side with the average day's — the incident-review workflow
    (find the anomaly deterministically, then explain WHEN within
    it) in one query, the q247 pick-then-decompose pattern applied
    to time-of-day.  The peak day is a 1-row TakeOrdered broadcast;
    the 24-row comparison emits integer permille ratios against
    the floor-averaged baseline."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.unix_timestamp(F.col("ts")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.count("*").alias("n"))
    peak = daily.orderBy(F.col("n").desc(), "day").limit(1).select("day")
    hourly = ev.select(
        F.hour("ts").cast("long").alias("hr"),
        F.floor(F.unix_timestamp(F.col("ts")) / 86400)
        .cast("long")
        .alias("day"),
    )
    pk = (
        hourly.join(F.broadcast(peak), "day")
        .groupBy("hr")
        .agg(F.count("*").cast("long").alias("peak_count"))
    )
    avgh = hourly.groupBy("hr").agg(
        F.count("*").cast("long").alias("total"),
        F.countDistinct("day").cast("long").alias("n_days"),
    )
    return (
        avgh.join(pk, "hr", "left")
        .selectExpr(
            "hr AS hour",
            "COALESCE(peak_count, 0) AS peak_day_count",
            "CAST(total DIV n_days AS BIGINT) AS avg_day_count",
            "CAST(COALESCE(peak_count, 0) * 1000"
            " DIV (total DIV n_days) AS BIGINT) AS ratio_permille",
        )
    )


@register(
    "q321_cramers_v",
    """
    WITH cell AS (SELECT c.c_nationkey AS nk, o.o_orderpriority AS pri,
                         CAST(count(*) AS BIGINT) AS obs
                  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  GROUP BY 1, 2),
    rx AS (SELECT nk, sum(obs) AS rn FROM cell GROUP BY nk),
    cy AS (SELECT pri, sum(obs) AS cn FROM cell GROUP BY pri),
    t AS (SELECT sum(obs) AS n,
                 count(DISTINCT nk) AS r, count(DISTINCT pri) AS c
          FROM cell),
    chi AS (SELECT sum((CAST(cell.obs AS DOUBLE)
                        - CAST(rx.rn AS DOUBLE) * cy.cn / t.n)
                       * (CAST(cell.obs AS DOUBLE)
                          - CAST(rx.rn AS DOUBLE) * cy.cn / t.n)
                       / (CAST(rx.rn AS DOUBLE) * cy.cn / t.n)) AS chi2,
                  max(t.n) AS n, max(t.r) AS r, max(t.c) AS c
           FROM cell JOIN rx USING (nk) JOIN cy USING (pri) CROSS JOIN t)
    SELECT ROUND(chi2, 6) AS chi2,
           CAST(n AS BIGINT) AS n,
           ROUND(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def q321_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V for nation x priority: the chi-square statistic
    NORMALIZED to [0,1] effect size — q177 emits the per-cell terms;
    this is the one number that says whether the association is
    worth acting on regardless of n (chi-square grows with data even
    for trivial effects; V does not).  Expected counts come from the
    margins of the SAME 125-cell aggregate; the double arithmetic is
    a fixed expression over exact integers, rounded once each for
    chi2 and V."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cell = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count("*").alias("obs"))
    )
    rx = cell.groupBy("nk").agg(F.sum("obs").alias("rn"))
    cy = cell.groupBy("pri").agg(F.sum("obs").alias("cn"))
    t = cell.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("nk").alias("r"),
        F.countDistinct("pri").alias("c"),
    )
    j = (
        cell.join(F.broadcast(rx), "nk")
        .join(F.broadcast(cy), "pri")
        .crossJoin(F.broadcast(t))
    )
    exp = F.col("rn").cast("double") * F.col("cn") / F.col("n")
    chi = j.agg(
        F.sum(
            (F.col("obs").cast("double") - exp)
            * (F.col("obs").cast("double") - exp)
            / exp
        ).alias("chi2"),
        F.max("n").alias("n"),
        F.max("r").alias("r"),
        F.max("c").alias("c"),
    )
    return chi.selectExpr(
        "ROUND(chi2, 6) AS chi2",
        "CAST(n AS BIGINT) AS n",
        "ROUND(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v",
    )


@register(
    "q322_odds_ratio",
    """
    WITH u AS (SELECT user_id,
                      CASE WHEN CAST('0x' || substr(md5(CAST(user_id
                                                             AS VARCHAR)),
                                     1, 8) AS BIGINT) % 2 = 0
                           THEN 'A1' ELSE 'A2' END AS arm
               FROM (SELECT DISTINCT user_id FROM events) t),
    per AS (SELECT u.arm, e.user_id,
                   max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0
                       END) AS converted
            FROM events e JOIN u ON e.user_id = u.user_id
            GROUP BY 1, 2),
    tab AS (SELECT
              CAST(sum(CASE WHEN arm = 'A1' AND converted = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS a,
              CAST(sum(CASE WHEN arm = 'A1' AND converted = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS b,
              CAST(sum(CASE WHEN arm = 'A2' AND converted = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS c,
              CAST(sum(CASE WHEN arm = 'A2' AND converted = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM per)
    SELECT a, b, c, d,
           CASE WHEN b = 0 OR c = 0 OR a = 0 OR d = 0 THEN NULL
                ELSE ROUND(ln(CAST(a AS DOUBLE) * d
                              / (CAST(b AS DOUBLE) * c)), 6) END
             AS log_odds_ratio,
           CASE WHEN b = 0 OR c = 0 OR a = 0 OR d = 0 THEN NULL
                ELSE ROUND(1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6)
           END AS ci_halfwidth
    FROM tab
    """,
)
def q322_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODDS RATIO with a Woolf 95% interval for the q273 A/A arms'
    user-level conversion — the 2x2-table effect measure (log OR 0
    within ±halfwidth is the expected A/A verdict, and the same
    query IS the A/B readout once a real assignment replaces the
    md5 parity).  The 2x2 cells are one exact aggregate; ln and the
    1/a+1/b+1/c+1/d variance are fixed double expressions over
    them, NULL-guarded for empty cells on both engines."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                "A1",
            )
            .otherwise("A2")
            .alias("arm"),
        )
    )
    per = (
        ev.join(F.broadcast(u), "user_id")
        .groupBy("arm", "user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    tab = per.agg(
        F.sum(
            F.when((F.col("arm") == "A1") & (F.col("converted") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("a"),
        F.sum(
            F.when((F.col("arm") == "A1") & (F.col("converted") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("b"),
        F.sum(
            F.when((F.col("arm") == "A2") & (F.col("converted") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("c"),
        F.sum(
            F.when((F.col("arm") == "A2") & (F.col("converted") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("d"),
    )
    return tab.selectExpr(
        "a", "b", "c", "d",
        "CASE WHEN b = 0 OR c = 0 OR a = 0 OR d = 0 THEN NULL"
        " ELSE ROUND(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)),"
        " 6) END AS log_odds_ratio",
        "CASE WHEN b = 0 OR c = 0 OR a = 0 OR d = 0 THEN NULL"
        " ELSE ROUND(1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6)"
        " END AS ci_halfwidth",
    )


@register(
    "q323_sign_test",
    """
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                        AS day,
                      sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
               FROM orders GROUP BY 1),
    wk AS (SELECT day // 7 AS week,
                  CASE WHEN (day + 4) % 7 IN (0, 6) THEN 'we' ELSE 'wd' END
                    AS kind,
                  x
           FROM d),
    per AS (SELECT week,
                   sum(CASE WHEN kind = 'we' THEN x ELSE 0 END) AS we,
                   sum(CASE WHEN kind = 'we' THEN 1 ELSE 0 END) AS nwe,
                   sum(CASE WHEN kind = 'wd' THEN x ELSE 0 END) AS wd,
                   sum(CASE WHEN kind = 'wd' THEN 1 ELSE 0 END) AS nwd
            FROM wk GROUP BY week
            HAVING sum(CASE WHEN kind = 'we' THEN 1 ELSE 0 END) = 2
               AND sum(CASE WHEN kind = 'wd' THEN 1 ELSE 0 END) = 5)
    SELECT CAST(count(*) AS BIGINT) AS n_weeks,
           CAST(sum(CASE WHEN we * nwd > wd * nwe THEN 1 ELSE 0 END)
                AS BIGINT) AS weekend_wins,
           CAST(sum(CASE WHEN we * nwd < wd * nwe THEN 1 ELSE 0 END)
                AS BIGINT) AS weekday_wins,
           CAST(sum(CASE WHEN we * nwd = wd * nwe THEN 1 ELSE 0 END)
                AS BIGINT) AS ties
    FROM per
    """,
)
def q323_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRED SIGN TEST: week by week, does the average weekend day
    out-earn the average weekday?  Weekend = Saturday + Sunday, i.e.
    (epoch_day+4)%7 IN (0, 6) on the 0=Sunday..6=Saturday scale
    (q169's formula).  Each complete week contributes
    one sign — the comparison is the EXACT integer cross-product
    we·n_wd vs wd·n_we, so no per-day float average exists — and
    the census (wins/losses/ties over ~340 weeks) is what a
    binomial table turns into a p-value.  The nonparametric answer
    to q259's weekday index: same question, zero distributional
    assumptions, and incomplete boundary weeks are excluded by an
    exact day-count predicate rather than silently diluted."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("x"))
    wk = d.select(
        F.expr("day DIV 7").alias("week"),
        F.when(((F.col("day") + 4) % 7).isin(0, 6), "we").otherwise("wd").alias(
            "kind"
        ),
        "x",
    )
    per = (
        wk.groupBy("week")
        .agg(
            F.sum(F.when(F.col("kind") == "we", F.col("x")).otherwise(0)).alias("we"),
            F.sum(F.when(F.col("kind") == "we", 1).otherwise(0)).alias("nwe"),
            F.sum(F.when(F.col("kind") == "wd", F.col("x")).otherwise(0)).alias("wd"),
            F.sum(F.when(F.col("kind") == "wd", 1).otherwise(0)).alias("nwd"),
        )
        .filter((F.col("nwe") == 2) & (F.col("nwd") == 5))
    )
    return per.agg(
        F.count("*").cast("long").alias("n_weeks"),
        F.sum(
            F.when(F.col("we") * F.col("nwd") > F.col("wd") * F.col("nwe"), 1)
            .otherwise(0)
        ).cast("long").alias("weekend_wins"),
        F.sum(
            F.when(F.col("we") * F.col("nwd") < F.col("wd") * F.col("nwe"), 1)
            .otherwise(0)
        ).cast("long").alias("weekday_wins"),
        F.sum(
            F.when(F.col("we") * F.col("nwd") == F.col("wd") * F.col("nwe"), 1)
            .otherwise(0)
        ).cast("long").alias("ties"),
    )


@register(
    "q324_lorenz_curve",
    """
    WITH sp AS (SELECT o_custkey,
                       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s
                FROM orders GROUP BY 1),
    r AS (SELECT s,
                 row_number() OVER (ORDER BY s, o_custkey) AS rk,
                 count(*) OVER () AS n,
                 sum(s) OVER (ORDER BY s, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(s) OVER () AS tot
          FROM sp)
    SELECT CAST((10 * rk + n - 1) // n AS BIGINT) AS decile,
           CAST(max(rk) AS BIGINT) AS n_customers_cum,
           CAST(max(cum) AS BIGINT) AS cum_cents,
           CAST((CAST(max(cum) AS HUGEINT) * 1000000) // max(tot)
                AS BIGINT) AS cum_share_ppm
    FROM r GROUP BY 1
    """,
)
def q324_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE points: cumulative revenue share at each customer
    decile (poorest first) — the curve whose area q198's Gini
    integrates, emitted as the 10-point table an equity chart plots.
    CEIL bucketing puts point d at rank floor(d·n/10), i.e. EXACTLY
    the d/10 population boundary (decile 10 = 1e6 ppm by
    construction, the built-in checksum; a floor bucketing would
    shift every point a decile late and emit no 10% point at all —
    the r5 review catch).
    One ascending rank window over the per-customer aggregate,
    crossing values read at decile boundaries; exact DECIMAL ppm.
    Core factored to :func:`operators.stats.lorenz_points` (shared
    with the 2M-entity scale smoke)."""
    from .operators.stats import lorenz_points

    orders = load_table(spark, sf_dir, "orders")
    sp = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias("s")
    )
    return lorenz_points(sp, sum_col="s", key_col="o_custkey").selectExpr(
        "decile",
        "n_cum AS n_customers_cum",
        "cum AS cum_cents",
        "cum_share_ppm",
    )


@register(
    "q325_decile_ratio",
    """
    WITH h AS (SELECT c.c_mktsegment AS seg,
                      CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY 1, 2),
    cum AS (SELECT seg, cents, cnt,
                   sum(cnt) OVER (PARTITION BY seg ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY seg) AS n
            FROM h)
    SELECT seg AS segment, CAST(max(n) AS BIGINT) AS n_orders,
           CAST(min(CASE WHEN 10 * cum >= n THEN cents END) AS BIGINT)
             AS p10_cents,
           CAST(min(CASE WHEN 10 * cum >= 9 * n THEN cents END) AS BIGINT)
             AS p90_cents,
           CAST((CAST(min(CASE WHEN 10 * cum >= 9 * n THEN cents END)
                      AS HUGEINT) * 1000)
                // NULLIF(min(CASE WHEN 10 * cum >= n THEN cents END), 0)
                AS BIGINT)
             AS p90_p10_permille
    FROM cum GROUP BY seg
    """,
)
def q325_decile_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P90/P10 DECILE RATIO of order values per segment — the
    economist's scale-free dispersion number (how many of the cheap
    orders fit inside an expensive one), robust where q303's CV²
    is moment-based and q198's Gini aggregates the whole curve.
    Both deciles are crossings of one per-segment histogram; the
    ratio is integer permille in DECIMAL.  Core factored to
    :func:`operators.stats.grouped_quantile_crossings` (shared with
    the 4M-row scale smoke)."""
    from .operators.stats import grouped_quantile_crossings

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return grouped_quantile_crossings(joined, "seg", "cents").selectExpr(
        "group AS segment",
        "n AS n_orders",
        "p10 AS p10_cents",
        "p90 AS p90_cents",
        "p90_p10_permille",
    )


@register(
    "q326_return_impact",
    """
    WITH ro AS (SELECT l_orderkey,
                       max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                         AS had_return
                FROM lineitem GROUP BY 1),
    o AS (SELECT o_custkey,
                 CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
                 o_orderkey, r.had_return
          FROM orders JOIN ro r ON o_orderkey = r.l_orderkey),
    g AS (SELECT had_return,
                 lead(day) OVER (PARTITION BY o_custkey
                                 ORDER BY day, o_orderkey) - day AS gap
          FROM o),
    h AS (SELECT had_return, gap, CAST(count(*) AS BIGINT) AS cnt
          FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
    cum AS (SELECT had_return, gap, cnt,
                   sum(cnt) OVER (PARTITION BY had_return ORDER BY gap
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY had_return) AS n
            FROM h)
    SELECT CAST(had_return AS BIGINT) AS had_return,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(min(CASE WHEN 2 * cum >= n THEN gap END) AS BIGINT)
             AS median_days_to_next,
           CAST(min(CASE WHEN 10 * cum >= 9 * n THEN gap END) AS BIGINT)
             AS p90_days_to_next
    FROM cum GROUP BY had_return
    """,
)
def q326_return_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a RETURN delay the next order?  Median/p90 days until
    the customer's next purchase, split by whether the order
    contained returned items — the churn-causality screen behind
    every returns-policy debate (matched gaps here are the honest
    null; a fatter returned-order tail is the alarm).  The
    days-to-next comes from one lead() window; the split quantiles
    are the house histogram crossings on each arm."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ro = li.groupBy("l_orderkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("had_return")
    )
    o = orders.join(ro, orders["o_orderkey"] == ro["l_orderkey"]).select(
        "o_custkey",
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
        orders["o_orderkey"].alias("ok"),
        "had_return",
    )
    wl = Window.partitionBy("o_custkey").orderBy("day", "ok")
    g = o.select(
        "had_return", (F.lead("day").over(wl) - F.col("day")).alias("gap")
    ).filter(F.col("gap").isNotNull())
    h = g.groupBy("had_return", "gap").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("had_return")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "had_return",
        "gap",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("had_return")).alias("n"),
    )
    return cum.groupBy(
        F.col("had_return").cast("long").alias("had_return")
    ).agg(
        F.max("n").cast("long").alias("n_orders"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("gap")))
        .cast("long")
        .alias("median_days_to_next"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("gap")))
        .cast("long")
        .alias("p90_days_to_next"),
    )


@register(
    "q327_priority_shift",
    """
    WITH o AS (SELECT o_custkey,
                      CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                           THEN 0 ELSE 1 END AS half,
                      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END AS hot
               FROM orders),
    per AS (SELECT o_custkey,
                   sum(CASE WHEN half = 0 THEN hot ELSE 0 END) AS h0,
                   sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN half = 1 THEN hot ELSE 0 END) AS h1,
                   sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
            FROM o GROUP BY 1
            HAVING sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN h1 * n0 > h0 * n1 THEN 1 ELSE 0 END)
                AS BIGINT) AS escalated,
           CAST(sum(CASE WHEN h1 * n0 < h0 * n1 THEN 1 ELSE 0 END)
                AS BIGINT) AS deescalated,
           CAST(sum(CASE WHEN h1 * n0 = h0 * n1 THEN 1 ELSE 0 END)
                AS BIGINT) AS unchanged
    FROM per
    """,
)
def q327_priority_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY ESCALATION census: per customer, did the urgent+high
    share of their orders RISE between the two eras?  The paired
    per-entity sign comparison (q323's machinery on a behavioral
    axis): shares compare as exact cross-products h1·n0 vs h0·n1,
    so a customer with 2/7 then 1/3 urgent orders is compared
    fraction-exactly with no float shares; an
    escalated ≈ deescalated split is the stationarity null."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.when(F.col("o_orderdate") < "1998-01-01", 0).otherwise(1).alias(
            "half"
        ),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("hot"),
    )
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("hot")).otherwise(0)).alias("h0"),
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("half") == 1, F.col("hot")).otherwise(0)).alias("h1"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"),
        )
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
    )
    return per.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(
            F.when(F.col("h1") * F.col("n0") > F.col("h0") * F.col("n1"), 1)
            .otherwise(0)
        ).cast("long").alias("escalated"),
        F.sum(
            F.when(F.col("h1") * F.col("n0") < F.col("h0") * F.col("n1"), 1)
            .otherwise(0)
        ).cast("long").alias("deescalated"),
        F.sum(
            F.when(F.col("h1") * F.col("n0") == F.col("h0") * F.col("n1"), 1)
            .otherwise(0)
        ).cast("long").alias("unchanged"),
    )


@register(
    "q328_recency_weighted_value",
    """
    WITH mx AS (SELECT CAST(year(max(o_orderdate)) * 12
                            + month(max(o_orderdate)) AS BIGINT) AS nowm
                FROM orders),
    o AS (SELECT o_custkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 least(CAST(mx.nowm - (year(o_orderdate) * 12
                                       + month(o_orderdate)) AS BIGINT),
                       40) AS age
          FROM orders, mx),
    sc AS (SELECT o_custkey,
                  sum(CAST(cents AS HUGEINT)
                      * (CAST(1 AS BIGINT) << CAST(40 - age AS INT)))
                    AS score
           FROM o GROUP BY 1)
    SELECT o_custkey AS custkey,
           CAST(score // (CAST(1 AS BIGINT) << 40) AS BIGINT)
             AS rfv_cents_now
    FROM sc ORDER BY score DESC, o_custkey LIMIT 25
    """,
)
def q328_recency_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECENCY-WEIGHTED customer value: every order's cents decay by
    half per month of age (dyadic, q220's trick at the customer
    grain) and the top 25 emerge — the 'who matters NOW' ranking
    where q191's RFM buckets coarsely and lifetime spend ignores
    recency entirely.  Ages clamp at 40 months (2^-40 < 1e-12 of a
    cent); scores accumulate as EXACT integers scaled by 2^40
    (shifted cents — no float decay), divide back down only for
    display.  Deterministic (score, custkey) cut."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(
        (F.year(F.max("o_orderdate")) * 12 + F.month(F.max("o_orderdate")))
        .cast("long")
        .alias("nowm")
    )
    o = orders.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.least(
            F.col("nowm")
            - (F.year("o_orderdate") * 12 + F.month("o_orderdate")),
            F.lit(40),
        )
        .cast("int")
        .alias("age"),
    )
    sc = o.groupBy("o_custkey").agg(
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.expr("CAST(shiftleft(1L, 40 - age) AS DECIMAL(38,0))")
        ).alias("score")
    )
    return (
        sc.selectExpr(
            "o_custkey AS custkey",
            "CAST(score DIV CAST(shiftleft(1L, 40) AS DECIMAL(38,0))"
            " AS BIGINT) AS rfv_cents_now",
            "score",
        )
        .orderBy(F.col("score").desc(), "custkey")
        .limit(25)
        .select("custkey", "rfv_cents_now")
    )


@register(
    "q329_brand_audience_overlap",
    """
    WITH top5 AS (SELECT p_brand AS brand FROM (
                    SELECT p.p_brand, sum(CAST(floor(l.l_extendedprice
                                                     * 100 + 0.5) AS BIGINT)) AS t
                    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                    GROUP BY 1)
                  ORDER BY t DESC, brand LIMIT 5),
    cb AS (SELECT DISTINCT c.c_custkey AS cust, p.p_brand AS brand
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_brand IN (SELECT brand FROM top5)),
    p AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM cb a JOIN cb b ON a.cust = b.cust AND a.brand < b.brand
          GROUP BY 1, 2),
    sz AS (SELECT brand, CAST(count(*) AS BIGINT) AS n FROM cb
           GROUP BY brand)
    SELECT p.brand_a, p.brand_b, p.n_common,
           za.n AS n_a, zb.n AS n_b,
           CAST((p.n_common * 1000) // (za.n + zb.n - p.n_common)
                AS BIGINT) AS jaccard_permille
    FROM p JOIN sz za ON p.brand_a = za.brand
           JOIN sz zb ON p.brand_b = zb.brand
    """,
)
def q329_brand_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIENCE OVERLAP matrix for the top-5 brands: Jaccard of
    their buyer sets — near-total overlap (this catalog's reality)
    means brands don't segment customers and co-marketing
    cannibalizes; disjoint audiences justify brand-level targeting.
    q294's machinery (distinct membership sets joined on the
    entity) pointed at commerce; buyer sets stay bounded by the
    top-5 cut before any pairing."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")).alias(
                "t"
            )
        )
    )
    top5 = (
        rev.orderBy(F.col("t").desc(), "p_brand")
        .limit(5)
        .select(F.col("p_brand").alias("tb"))
    )
    cb = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(top5), F.col("p_brand") == F.col("tb"), "left_semi")
        .select(
            F.col("c_custkey").alias("cust"), F.col("p_brand").alias("brand")
        )
        .distinct()
    )
    a = cb.select(F.col("cust"), F.col("brand").alias("brand_a"))
    b = cb.select(F.col("cust").alias("cust_b"), F.col("brand").alias("brand_b"))
    p = (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("brand_a") < F.col("brand_b")),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sz = cb.groupBy("brand").agg(F.count("*").cast("long").alias("n"))
    za = sz.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(za), "brand_a")
        .join(F.broadcast(zb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr(
                "CAST((n_common * 1000) DIV (n_a + n_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_permille"),
        )
    )


@register(
    "q330_curation_scorecard",
    r"""
    WITH base AS (
      SELECT doc_id, source,
             CAST(length(list_filter(string_split_regex(lower(text),
                                                        '\s+'),
                                     x -> x <> '')) AS BIGINT) AS n_tokens,
             md5(trim(regexp_replace(lower(substr(text, 1, 100)), '\s+',
                                     ' ', 'g'))) AS pfp,
             CAST(length(regexp_replace(text, '[^.!?]', '', 'g'))
                  AS BIGINT) AS sentences
      FROM documents),
    dup AS (SELECT pfp, CAST(count(*) AS BIGINT) AS nfp,
                   min(doc_id) AS keeper
            FROM base GROUP BY pfp),
    g AS (SELECT b.source,
                 CASE WHEN b.n_tokens >= 20 THEN 1 ELSE 0 END AS g_len,
                 CASE WHEN b.doc_id = d.keeper THEN 1 ELSE 0 END AS g_dup,
                 CASE WHEN b.sentences > 0 THEN 1 ELSE 0 END AS g_sent
          FROM base b JOIN dup d ON b.pfp = d.pfp)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(g_len) AS BIGINT) AS pass_length,
           CAST(sum(g_dup) AS BIGINT) AS pass_dedup,
           CAST(sum(g_sent) AS BIGINT) AS pass_structure,
           CAST(sum(g_len * g_dup * g_sent) AS BIGINT) AS pass_all,
           CAST((sum(g_len * g_dup * g_sent) * 1000) // count(*)
                AS BIGINT) AS yield_permille
    FROM g GROUP BY source
    """,
)
def q330_curation_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION SCORECARD: per source, how many documents clear
    each training-data gate — minimum length (q21's token contract),
    prefix-dedup survivorship (q280's key, min-doc_id keeper), and
    structural sanity (has sentence terminators, q229's
    denominator guard) — plus the all-gates yield in permille: the
    per-feed acceptance report a data-sourcing contract is settled
    against (q65 RUNS the curation; this SCORES each feed's raw
    quality before any pipeline spend).  Gate flags multiply so
    pass_all is exact, one fingerprint join, one census."""
    from .functions.textfn import normalize_ws, tokenize

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(normalize_ws(F.substring(F.col("text"), 1, 100))).alias("pfp"),
        F.length(F.regexp_replace(F.col("text"), r"[^.!?]", ""))
        .cast("long")
        .alias("sentences"),
    )
    dup = base.groupBy("pfp").agg(F.min("doc_id").alias("keeper"))
    g = base.join(dup, "pfp").select(
        "source",
        F.when(F.col("n_tokens") >= 20, 1).otherwise(0).alias("g_len"),
        F.when(F.col("doc_id") == F.col("keeper"), 1).otherwise(0).alias(
            "g_dup"
        ),
        F.when(F.col("sentences") > 0, 1).otherwise(0).alias("g_sent"),
    )
    return g.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("g_len").cast("long").alias("pass_length"),
        F.sum("g_dup").cast("long").alias("pass_dedup"),
        F.sum("g_sent").cast("long").alias("pass_structure"),
        F.sum(F.col("g_len") * F.col("g_dup") * F.col("g_sent"))
        .cast("long")
        .alias("pass_all"),
        F.expr(
            "CAST((sum(g_len * g_dup * g_sent) * 1000) DIV count(*)"
            " AS BIGINT)"
        ).alias("yield_permille"),
    )


@register("q331_lorenz_scaled", None)
def q331_lorenz_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q324's Lorenz curve at the 100 TB SHAPE: identical decile
    table, but the global rank + running sum come from
    :func:`operators.stats.distributed_cumsum` — the range-partitioned
    two-pass prefix sum — instead of the single-task global-order
    window.  The oracle is literally q324's (assigned below): the two
    formulations must agree cell-for-cell, which makes this the
    driver-checked witness that the documented scale swap is
    drop-in-exact, not approximately equivalent.  Totals join back as
    a broadcast 1-row aggregate; ppm stays in DECIMAL."""
    from .operators.stats import decile_table, distributed_cumsum

    orders = load_table(spark, sf_dir, "orders")
    sp = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("s")
    )
    r = distributed_cumsum(sp, ["s", "o_custkey"], "s")
    tots = sp.agg(
        F.count("*").alias("n"),
        F.sum("s").cast("decimal(38,0)").alias("tot"),
    )
    # ONE shared bucketing tail with lorenz_points (operators.stats.
    # decile_table) — a bucketing or ppm change cannot diverge between
    # the window and distributed formulations the oracle pins together
    return decile_table(r.join(F.broadcast(tots))).selectExpr(
        "decile",
        "n_cum AS n_customers_cum",
        "cum AS cum_cents",
        "cum_share_ppm",
    )


# q331 answers q324's exact contract through the scale-swap plan; the
# shared oracle pins the two formulations to each other via DuckDB.
ORACLE["q331_lorenz_scaled"] = ORACLE["q324_lorenz_curve"]


@register("q332_gini_scaled", None)
def q332_gini_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q198's per-nation Gini at the 100 TB SHAPE: the rank i inside
    each nation comes from :func:`operators.stats.distributed_cumsum`
    with ``group_cols`` — groups range-partition contiguously and a
    big nation SPANS partitions (parallel windows + per-(partition,
    nation) offsets) instead of landing its entire order history in
    one window task (q198's 25-task ceiling).  Oracle is q198's
    verbatim (assigned below): the grouped swap must be drop-in-exact.
    Same DECIMAL(38,0) ppm arithmetic — Σ(i·x) crosses int64 at
    one-tenth TPC-H already."""
    from .operators.stats import distributed_cumsum

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    r = distributed_cumsum(
        o, ["cents", "o_orderkey"], "cents", group_cols=["nk"]
    )
    a = r.groupBy("nk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("cents")).alias("si"),
    )
    return a.select(
        F.col("nk").alias("nationkey"),
        "n",
        F.col("s").cast("long").alias("total_cents"),
        F.expr(
            "CAST(((2 * CAST(si AS DECIMAL(38,0))"
            " - (n + 1) * CAST(s AS DECIMAL(38,0))) * 1000000)"
            " DIV (CAST(n AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("gini_ppm"),
    )


# q332 answers q198's exact contract through the grouped scale-swap
# plan; the shared oracle pins the two formulations to each other.
ORACLE["q332_gini_scaled"] = ORACLE["q198_gini_order_values"]


# --------------------------------------------------------------------------
# Round-6 wave: character-level dedup, graph census, weighted-bag
# similarity, exact-k PPS sampling, containment dedup
# --------------------------------------------------------------------------


@register(
    "q333_edit_distance_neardup",
    r"""
    WITH d AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nw
      FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, lang, substring(nw, 1, 120) AS pfx, length(nw) AS len,
                 CAST(floor(length(nw) / 16) AS BIGINT) AS bk FROM d)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) AS edit_dist
    FROM b a JOIN b c
      ON a.lang = c.lang AND a.doc_id < c.doc_id
     AND c.bk BETWEEN a.bk - 1 AND a.bk + 1
     AND abs(a.len - c.len) <= 12
    WHERE levenshtein(a.pfx, c.pfx) <= 12
    """,
)
def q333_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs over length-bucketed lang blocks —
    the character-noise dedup detector (OCR scans, typo'd mirrors)
    that the token-set family (q15-q17, q38-q39) cannot see.  The
    oracle replays the same declared predicate with an adjacent-bucket
    non-equi join; the engine's bucket-probe join matches each pair
    exactly once at the higher bucket."""
    from .operators.dedup import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_pairs(docs)


@register(
    "q334_copurchase_triangles",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 4 = 0),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS t
            FROM e xy JOIN e yz ON xy.v = yz.u
                      JOIN e xz ON xz.u = xy.u AND xz.v = yz.v),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(d) // 2 AS BIGINT) AS n_edges,
                 CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
          FROM deg)
    SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
           CAST((3000000 * t) // nullif(n_wedges, 0) AS BIGINT) AS clustering_ppm
    FROM s, tri
    """,
)
def q334_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts sharing an
    order, 25%-of-orders deterministic slice) — triangle density +
    global clustering coefficient, the community-structure probe that
    follows q203's k-core peel on co-occurrence graphs.

    The engine counts via DEGREE-ORDERED orientation (out-degree <=
    ~sqrt(2|E|) regardless of celebrity skew; work Σ outdeg² <=
    |E|^1.5, the 100 TB bound); the oracle uses the id-ordered triple
    join — orientation changes the join bound, never the exact count,
    which is what makes the integer census oracle-checkable."""
    from .operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 4 == 0
    )
    return triangle_stats(_copurchase_edges(li))


@register(
    "q335_tfidf_cosine",
    r"""
    WITH tf AS (
      SELECT doc_id AS id, w, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
            FROM documents WHERE text IS NOT NULL) t
      GROUP BY 1, 2),
    n AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS n FROM tf),
    dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 50),
    wt AS (SELECT tf.id, tf.w, tf.tf * ln(n.n / dfr.df) AS wt
           FROM tf JOIN dfr ON tf.w = dfr.w CROSS JOIN n),
    nrm AS (SELECT id, sqrt(sum(wt * wt)) AS nrm FROM wt GROUP BY 1
            HAVING sum(wt * wt) > 0),
    dot AS (SELECT a.id AS ia, b.id AS ib, sum(a.wt * b.wt) AS dot
            FROM wt a JOIN wt b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2)
    SELECT ia AS doc_a, ib AS doc_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dot JOIN nrm na ON na.id = ia JOIN nrm nb ON nb.id = ib
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.2
    ORDER BY cos_sim DESC, doc_a, doc_b LIMIT 40
    """,
)
def q335_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 doc pairs by tf-idf cosine over rare terms (df <= 50) —
    the weighted bag-of-words similarity tier between unweighted token
    Jaccard (q17) and model-embedding cosine (q18).  Pairs come from
    the inverted-index join on the df-capped vocabulary (Σ df²
    bounded), norms live in the same truncated space, and the top-40
    cut is a TakeOrdered on (rounded cosine, ids) — deterministic
    total order on both sides."""
    from .operators.text import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return (
        tfidf_cosine_pairs(docs, max_df=50, min_sim=0.2)
        .orderBy(F.desc("cos_sim"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(40)
    )


@register(
    "q336_systematic_pps_sample",
    """
    WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
               WHERE n_chars IS NOT NULL AND n_chars > 0),
    c AS (SELECT doc_id, w, CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM d),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM d)
    SELECT doc_id, w, cum, CAST(((cum - w) * 50) // tot + 1 AS BIGINT) AS stratum
    FROM c CROSS JOIN t
    WHERE (cum * 50) // tot > ((cum - w) * 50) // tot
    """,
)
def q336_systematic_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-50 systematic PPS sample of documents weighted by length
    — the zero-randomness exact-count tier of the sampling family
    (Bernoulli/hash samplers give expected sizes; this cuts the
    cumulative-weight axis into 50 strata and picks each boundary
    crosser).  The cumulative sum rides distributed_cumsum (range
    exchange + parallel partition windows), NOT a one-task global
    window — the oracle's window SUM is the same math at toy scale.
    All arithmetic is BIGINT floor division: bit-identical on any
    engine at any parallelism."""
    from .operators.sampling import systematic_weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return systematic_weighted_sample(docs, "n_chars", ["doc_id"], k=50)


@register(
    "q337_shingle_containment",
    r"""
    WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nw
               FROM documents WHERE text IS NOT NULL),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, length(nw) - 6),
                         i -> substring(nw, i, 8))) AS sh
           FROM d WHERE length(nw) >= 8),
    kept AS (SELECT sh.doc_id, sh.sh FROM sh
             JOIN (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= 16) f USING (sh)),
    nk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nk FROM kept GROUP BY 1),
    inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS BIGINT) AS n_common
              FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT ia AS doc_a, ib AS doc_b, n_common,
           CAST((n_common * 1000000) // na.nk AS BIGINT) AS cont_a_ppm,
           CAST((n_common * 1000000) // nb.nk AS BIGINT) AS cont_b_ppm
    FROM inter JOIN nk na ON na.doc_id = ia JOIN nk nb ON nb.doc_id = ib
    WHERE GREATEST((n_common * 1000000) // na.nk, (n_common * 1000000) // nb.nk) >= 800000
    """,
)
def q337_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs over discriminative character
    8-shingles (df <= 16) — the SUBSET detector: a short doc embedded
    verbatim in a long one has high containment |A∩B|/|A| even when
    Jaccard |A∩B|/|A∪B| is tiny (Broder's resemblance-vs-containment
    distinction).  The df cap is part of the declared measure (and the
    Σ df² scale bound), so the SQL oracle models it exactly; all
    ratios are integer ppm."""
    from .operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, k=8, max_df=16, min_cont_ppm=800_000)


# --------------------------------------------------------------------------
# Round-6 wave 2: rank fusion, hard-negative mining, exact-k group
# reservoir, budget-capped curation, link prediction
# --------------------------------------------------------------------------


@register(
    "q338_rrf_fusion",
    """
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT e.vec_id,
             SUM(CAST(e.embedding[s.i] AS DOUBLE) * CAST(q.embedding[s.i] AS DOUBLE)) AS dp,
             SUM(CAST(e.embedding[s.i] AS DOUBLE) * CAST(e.embedding[s.i] AS DOUBLE)) AS na2,
             SUM(CAST(q.embedding[s.i] AS DOUBLE) * CAST(q.embedding[s.i] AS DOUBLE)) AS nb2
      FROM embeddings e CROSS JOIN q CROSS JOIN generate_series(1, 64) s(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id),
    rc AS (SELECT vec_id,
                  row_number() OVER (ORDER BY ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) DESC,
                                     vec_id) AS rnk
           FROM terms),
    rd AS (SELECT vec_id,
                  row_number() OVER (ORDER BY ROUND(dp, 6) DESC, vec_id) AS rnk
           FROM terms),
    c AS (SELECT vec_id, CAST(rnk AS BIGINT) AS rank_cos FROM rc WHERE rnk <= 100),
    d AS (SELECT vec_id, CAST(rnk AS BIGINT) AS rank_dot FROM rd WHERE rnk <= 100)
    SELECT COALESCE(c.vec_id, d.vec_id) AS vec_id,
           CAST(COALESCE(1000000 // (60 + c.rank_cos), 0)
                + COALESCE(1000000 // (60 + d.rank_dot), 0) AS BIGINT) AS rrf_ppm,
           c.rank_cos, d.rank_dot
    FROM c FULL OUTER JOIN d ON c.vec_id = d.vec_id
    ORDER BY rrf_ppm DESC, vec_id LIMIT 20
    """,
)
def q338_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval runs for the same query
    vector — cosine (angle) and raw inner product (MIPS, magnitude-
    aware) — the standard zero-training ensemble for hybrid retrieval
    (Cormack et al., SIGIR'09).  Each run is a bounded top-100
    TakeOrdered; the fusion joins at most 200 rows, so its cost is
    O(k) regardless of corpus size.  Contributions are integer ppm
    (1000000 div (60 + rank)) — the fused ordering key is a BIGINT,
    immune to float reassociation."""
    from pyspark.sql import Window

    from .operators.similarity import brute_force_topk, dot_product_topk, rrf_fuse

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    # rank windows run on the 100-row TakeOrdered results — single
    # partition by construction, bounded by k not the corpus
    runs = {
        "cos": brute_force_topk(emb, qvec, k=100, exclude_id=0).withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            ),
        ),
        "dot": dot_product_topk(emb, qvec, k=100, exclude_id=0).withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("dot_score"), F.asc("vec_id"))
            ),
        ),
    }
    return (
        rrf_fuse(runs, id_col="vec_id", k0=60)
        .orderBy(F.desc("rrf_ppm"), F.asc("vec_id"))
        .limit(20)
    )


@register(
    "q339_hard_negatives",
    """
    WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label, embedding
               FROM embeddings WHERE vec_id < 8),
    p AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id AS neg_id, e.label AS neg_label,
             ROUND(SUM(CAST(e.embedding[s.i] AS DOUBLE) * CAST(a.embedding[s.i] AS DOUBLE))
                   / (sqrt(SUM(CAST(e.embedding[s.i] AS DOUBLE) * CAST(e.embedding[s.i] AS DOUBLE)))
                      * sqrt(SUM(CAST(a.embedding[s.i] AS DOUBLE) * CAST(a.embedding[s.i] AS DOUBLE)))),
                   6) AS cs
      FROM a JOIN embeddings e ON e.label <> a.anchor_label
      CROSS JOIN generate_series(1, 64) s(i)
      GROUP BY 1, 2, 3, 4
      HAVING SUM(CAST(e.embedding[s.i] AS DOUBLE) * CAST(e.embedding[s.i] AS DOUBLE)) > 0
         AND SUM(CAST(a.embedding[s.i] AS DOUBLE) * CAST(a.embedding[s.i] AS DOUBLE)) > 0),
    r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY cs DESC, neg_id) AS rn FROM p)
    SELECT anchor_id, anchor_label, neg_id, neg_label, cs AS cos_sim
    FROM r WHERE rn = 1
    """,
)
def q339_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each of 8 anchor vectors, the single
    most cosine-similar vector with a DIFFERENT label — the pairs
    contrastive training wants most and a labeling audit flags first.
    The per-anchor argmax is max(struct(cos, -id, payload)) — a true
    partial aggregate (map-side combine), so one corpus scan reduces
    to |anchors| rows per task before the only exchange; no
    (anchor x corpus) rows ever shuffle and no row_number window runs
    over the corpus.  At 100 TB the scan side drops onto the IVF cells
    near each anchor (q28's pruning) with the same argmax shape."""
    from .operators.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, anchor_ids=list(range(8)))


@register(
    "q340_group_reservoir",
    """
    WITH d AS (SELECT lang, source, doc_id,
                      substring(md5(concat_ws('|', 'gr1', CAST(doc_id AS VARCHAR))),
                                1, 28) AS draw
               FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang, source
                                       ORDER BY draw, doc_id) AS rn FROM d)
    SELECT lang, source, doc_id, draw, CAST(rn AS BIGINT) AS sample_rank
    FROM r WHERE rn <= 5
    """,
)
def q340_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-5 uniform sample per (lang, source) cell with zero
    randomness — the eval-set / spot-check shape ("5 examples from
    every corpus cell").  Ranks ride the module's shared md5 hex-draw
    family: lexicographic hex compare, so any engine with md5
    reproduces the identical member set, and the sample is stable
    under retries, repartitioning, AND corpus growth (a new doc only
    displaces rows whose draw it undercuts).  Completes the sampler
    determinism ladder: rate-expected strata (q49) -> exact-k global
    PPS (q336) -> exact-k per-group uniform (this)."""
    from .operators.sampling import group_uniform_sample

    docs = load_table(spark, sf_dir, "documents")
    return group_uniform_sample(
        docs, ["lang", "source"], "doc_id", k=5, seed="gr1"
    ).select("lang", "source", "doc_id", "draw", "sample_rank")


@register(
    "q341_token_budget_curation",
    r"""
    WITH t AS (SELECT doc_id,
                      unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                         x -> x <> '')) AS w
               FROM documents WHERE text IS NOT NULL),
    s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT w) AS DOUBLE) / count(*) AS ttr
          FROM t GROUP BY 1),
    c AS (SELECT doc_id, ttr, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY ttr DESC, doc_id) AS BIGINT) AS cum
          FROM s)
    SELECT doc_id, ROUND(ttr, 6) AS ttr, n_tokens, cum AS cum_tokens
    FROM c WHERE cum <= 50000
    """,
)
def q341_token_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped curation: walk documents in (type-token-ratio
    DESC, doc_id) order and keep the prefix whose running token total
    stays within a 50k-token budget — the final cut of every training-
    mix recipe (fixed token target, quality-ranked supply).  TTR =
    distinct/total tokens, an exact ratio both engines compute
    bit-identically (one IEEE division), so the greedy prefix is the
    unique ranking cut.  The running sum is distributed_cumsum (range
    exchange + parallel per-partition windows + |partitions|-row
    driver offsets) — never a one-task global window; the oracle's
    window SUM is the same math at toy scale."""
    from .operators.sampling import budget_capped_select

    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokenize("text")).alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.countDistinct("w").cast("double") / F.count("*")).alias("ttr"),
        )
    )
    sel = budget_capped_select(
        s, score_col="ttr", cost_col="n_tokens", id_col="doc_id", budget=50_000
    )
    return sel.select(
        "doc_id",
        F.round("ttr", 6).alias("ttr"),
        "n_tokens",
        F.col("cum_cost").alias("cum_tokens"),
    )


@register(
    "q342_adamic_adar_links",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 4 = 0),
    adj AS (SELECT x AS c, y AS n FROM e UNION ALL SELECT y AS c, x AS n FROM e),
    deg AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    ctr AS (SELECT c, 1.0 / ln(CAST(d AS DOUBLE)) AS w FROM deg
            WHERE d BETWEEN 2 AND 64),
    ca AS (SELECT adj.c, adj.n, ctr.w FROM adj JOIN ctr USING (c)),
    p AS (SELECT a.n AS u, b.n AS v, CAST(count(*) AS BIGINT) AS common_neighbors,
                 SUM(a.w) AS aa
          FROM ca a JOIN ca b ON a.c = b.c AND a.n < b.n GROUP BY 1, 2),
    ne AS (SELECT * FROM p WHERE NOT EXISTS
             (SELECT 1 FROM e WHERE e.x = p.u AND e.y = p.v))
    SELECT u, v, common_neighbors, ROUND(aa, 6) AS aa_score
    FROM ne ORDER BY aa_score DESC, u, v LIMIT 40
    """,
)
def q342_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-purchase graph (the
    q334 slice): the 40 strongest NON-edges, scored Σ 1/ln(deg) over
    common neighbors — "which parts should co-sell next".  Wedge
    centers are degree-capped at 64 as part of the declared measure
    (a hub's 1/ln(deg) weight is near-constant noise across millions
    of pairs; the cap bounds the self-join at |V|·cap², the
    mega-bucket-cap role, modeled exactly by the oracle).  Existing
    edges leave via LEFT ANTI on the canonical pair; the adjacency
    set feeds degrees, both wedge legs and the anti probe through ONE
    lineage cut (the r6 single-upstream-pass rule)."""
    from .operators.graph import adamic_adar_links

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    return (
        adamic_adar_links(_copurchase_edges(li), deg_cap=64)
        .orderBy(F.desc("aa_score"), F.asc("u"), F.asc("v"))
        .limit(40)
    )


@register(
    "q343_whitened_knn",
    """
    WITH st AS (
      SELECT s.i, avg(CAST(e.embedding[s.i] AS DOUBLE)) AS mu,
             stddev_pop(CAST(e.embedding[s.i] AS DOUBLE)) AS sd
      FROM embeddings e CROSS JOIN generate_series(1, 64) s(i)
      GROUP BY 1),
    sc AS (SELECT i, mu, CASE WHEN sd > 0 THEN 1.0 / sd ELSE 0.0 END AS inv FROM st),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 1),
    terms AS (
      SELECT e.vec_id,
             SUM(((CAST(e.embedding[sc.i] AS DOUBLE) - sc.mu) * sc.inv)
                 * ((CAST(q.embedding[sc.i] AS DOUBLE) - sc.mu) * sc.inv)) AS dp,
             SUM(((CAST(e.embedding[sc.i] AS DOUBLE) - sc.mu) * sc.inv)
                 * ((CAST(e.embedding[sc.i] AS DOUBLE) - sc.mu) * sc.inv)) AS na2,
             SUM(((CAST(q.embedding[sc.i] AS DOUBLE) - sc.mu) * sc.inv)
                 * ((CAST(q.embedding[sc.i] AS DOUBLE) - sc.mu) * sc.inv)) AS nb2
      FROM embeddings e CROSS JOIN q JOIN sc ON TRUE
      WHERE e.vec_id <> 1
      GROUP BY e.vec_id)
    SELECT vec_id, ROUND(dp / (sqrt(na2) * sqrt(nb2)), 6) AS cos_sim
    FROM terms ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
)
def q343_whitened_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 in per-dimension STANDARDIZED (whitened) space —
    the retrieval fix when a few high-variance dimensions dominate raw
    cosine (diagonal Mahalanobis).  One partial-aggregated scan
    produces the 64 per-dim moments; that |dims|-row frame is a
    documented bounded collect (the IVF-centroid posture) compiled
    back as literal arrays, so standardization runs per-row inside
    codegen — no join against stats, no Python.  Contrast with q13:
    same TakeOrdered ranking contract, transformed space."""
    from .operators.similarity import whitened_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return whitened_topk(emb, query_id=1, k=10)


@register(
    "q344_source_flattening",
    """
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1),
    d AS (SELECT doc_id, source,
                 ('0x' || substr(md5('fl1' || '|' || CAST(doc_id AS VARCHAR)),
                                 1, 7))::BIGINT AS draw7
          FROM documents)
    SELECT d.doc_id, d.source
    FROM d JOIN c USING (source)
    WHERE d.draw7 * c.n < CAST(15 AS BIGINT) * 268435456
    """,
)
def q344_source_flattening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency source flattening: keep each document of
    source s with probability min(1, 15/|s|), landing every source at
    an EXPECTED 15 docs — the "no domain swamps the mix" balancing
    stage.  The rate is derived from the data (one counting aggregate
    broadcast back onto the scan), and membership is INTEGER-exact:
    draw7 x |s| < 15 x 16^7 in BIGINT, so the oracle reproduces the
    identical keep set with the same md5 digits — no float compare
    anywhere."""
    from .operators.sampling import flattening_sample

    docs = load_table(spark, sf_dir, "documents")
    return flattening_sample(
        docs, "source", "doc_id", target_per_group=15, seed="fl1"
    ).select("doc_id", "source")


@register(
    "q345_copresence_pairs",
    """
    WITH b AS (SELECT DISTINCT user_id AS u, event_type AS k,
                               date_trunc('hour', ts) AS h
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    kept AS (SELECT b.* FROM b
             JOIN (SELECT k, h FROM b GROUP BY 1, 2
                   HAVING count(*) <= 200) f USING (k, h)),
    nu AS (SELECT u, CAST(count(*) AS BIGINT) AS nc FROM kept GROUP BY 1),
    co AS (SELECT a.u AS ua, c.u AS ub, CAST(count(*) AS BIGINT) AS co_cells
           FROM kept a JOIN kept c ON a.k = c.k AND a.h = c.h AND a.u < c.u
           GROUP BY 1, 2)
    SELECT ua AS user_a, ub AS user_b, co_cells,
           CAST((co_cells * 1000000) // least(na.nc, nb.nc) AS BIGINT)
             AS overlap_ppm
    FROM co JOIN nu na ON na.u = ua JOIN nu nb ON nb.u = ub
    ORDER BY co_cells DESC, user_a, user_b LIMIT 25
    """,
)
def q345_copresence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 user pairs by temporal co-presence — distinct
    (event_type, hour) cells both appear in, with the overlap
    coefficient co/min(|a|,|b|) in integer ppm.  Graph CONSTRUCTION
    from telemetry: the edges that feed the census/link-prediction
    probes (q334/q342) when the graph isn't given.  Cells above 200
    distinct users are excluded as part of the declared measure (user
    density per cell grows with the corpus at fixed time resolution;
    the cap is the mega-bucket bound, modeled exactly by the oracle).
    Deterministic cut: (co_cells DESC, user_a, user_b)."""
    from .operators.graph import copresence_pairs

    ev = load_table(spark, sf_dir, "events")
    return (
        copresence_pairs(ev, max_users=200)
        .orderBy(F.desc("co_cells"), F.asc("user_a"), F.asc("user_b"))
        .limit(25)
    )


@register(
    "q346_woe_iv",
    """
    WITH b AS (SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS bucket,
                      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
               FROM lineitem),
    g AS (SELECT bucket,
                 CAST(sum(1 - bad) AS BIGINT) AS n_good,
                 CAST(sum(bad) AS BIGINT) AS n_bad
          FROM b GROUP BY 1),
    t AS (SELECT CAST(sum(n_good) AS BIGINT) AS tg,
                 CAST(sum(n_bad) AS BIGINT) AS tb FROM g)
    SELECT bucket, n_good, n_bad,
           ROUND(CASE WHEN n_good > 0 AND n_bad > 0
                      THEN ln((CAST(n_good AS DOUBLE) / tg)
                              / (CAST(n_bad AS DOUBLE) / tb)) END, 6) AS woe,
           ROUND(CASE WHEN n_good > 0 AND n_bad > 0
                      THEN (CAST(n_good AS DOUBLE) / tg
                            - CAST(n_bad AS DOUBLE) / tb)
                           * ln((CAST(n_good AS DOUBLE) / tg)
                                / (CAST(n_bad AS DOUBLE) / tb)) END, 6)
             AS iv_contrib
    FROM g CROSS JOIN t
    """,
)
def q346_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value profile of the discount
    grid against the return flag — the credit-scoring feature-audit
    standard (how predictive is each discount band of a return?).
    WOE_b = ln((good_b/G)/(bad_b/B)); IV contribution per band =
    (good share - bad share) x WOE.  One partial-aggregated pass
    builds the (band, outcome) counts; totals come back as a broadcast
    1-row aggregate; bands missing an outcome get NULL WOE (ln 0 is
    undefined — declared, not an ANSI error)."""
    li = load_table(spark, sf_dir, "lineitem")
    bad = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    g = (
        li.select(
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bucket"),
            bad.alias("bad"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.lit(1) - F.col("bad")).cast("long").alias("n_good"),
            F.sum("bad").cast("long").alias("n_bad"),
        )
    )
    t = g.agg(
        F.sum("n_good").cast("long").alias("tg"),
        F.sum("n_bad").cast("long").alias("tb"),
    )
    gs = F.col("n_good").cast("double") / F.col("tg")
    bs = F.col("n_bad").cast("double") / F.col("tb")
    ok = (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    return g.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_good",
        "n_bad",
        F.round(F.when(ok, F.log(gs / bs)), 6).alias("woe"),
        F.round(F.when(ok, (gs - bs) * F.log(gs / bs)), 6).alias("iv_contrib"),
    )


@register(
    "q347_burrows_delta",
    r"""
    WITH toks AS (SELECT source,
                         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                            x -> x <> '')) AS w
                  FROM documents WHERE text IS NOT NULL),
    top AS (SELECT w FROM (SELECT w, count(*) AS c FROM toks GROUP BY 1
                           ORDER BY c DESC, w LIMIT 50)),
    st AS (SELECT source, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
    sf AS (SELECT t.source, t.w, CAST(count(*) AS BIGINT) AS c
           FROM toks t JOIN top USING (w) GROUP BY 1, 2),
    rel AS (SELECT st.source, top.w,
                   CAST(COALESCE(sf.c, 0) AS DOUBLE) / st.nt AS rf
            FROM st CROSS JOIN top
            LEFT JOIN sf ON sf.source = st.source AND sf.w = top.w),
    z AS (SELECT source, w,
                 (rf - avg(rf) OVER (PARTITION BY w))
                   / nullif(stddev_pop(rf) OVER (PARTITION BY w), 0) AS z
          FROM rel),
    zz AS (SELECT * FROM z WHERE z IS NOT NULL)
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND(avg(abs(a.z - b.z)), 6) AS delta
    FROM zz a JOIN zz b ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY delta ASC, source_a, source_b LIMIT 15
    """,
)
def q347_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources — the stylometry standard
    (Burrows 2002): z-score each of the top-50 corpus terms' relative
    frequencies across sources, then Delta(a,b) = mean |z_a - z_b|.
    The 15 CLOSEST pairs surface mirrored / same-pipeline sources that
    near-dup detectors miss (style, not content, overlap).  One token
    explode feeds the top-50 cut (count desc, term — deterministic),
    per-source totals and the per-(source, term) counts; everything
    after the explode runs on |sources| x 50 rows, so the z-score
    windows and the pair join are toy-sized AT ANY CORPUS SCALE.
    Zero-variance terms are dropped from the measure (declared);
    missing (source, term) cells count as frequency 0 via the spine
    LEFT join."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "source", F.explode(tokenize("text")).alias("w")
    )
    top = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(50)
        .select("w")
    )
    st = toks.groupBy("source").agg(F.count("*").alias("nt"))
    sfq = (
        toks.join(F.broadcast(top), "w")
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    rel = (
        st.crossJoin(F.broadcast(top))
        .join(sfq, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("nt")).alias(
                "rf"
            ),
        )
    )
    wterm = Window.partitionBy("w")
    z = rel.select(
        "source",
        "w",
        (
            (F.col("rf") - F.avg("rf").over(wterm))
            / F.nullif(F.stddev_pop("rf").over(wterm), F.lit(0.0))
        ).alias("z"),
    ).filter(F.col("z").isNotNull())
    a = z.select(F.col("source").alias("source_a"), "w", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "w", F.col("z").alias("zb"))
    return (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias("delta"))
        .orderBy(F.asc("delta"), F.asc("source_a"), F.asc("source_b"))
        .limit(15)
    )


@register(
    "q348_anova_f",
    """
    WITH j AS (SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT seg, CAST(count(*) AS BIGINT) AS n, avg(v) AS m,
                 sum(v * v) AS s2, sum(v) AS s1
          FROM j GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
                 sum(s1) AS ts1, sum(s2) AS ts2
          FROM g),
    c AS (SELECT g.n, g.m, t.nn, t.k, t.ts1, t.ts2, t.ts1 / t.nn AS gm
          FROM g CROSS JOIN t),
    r AS (SELECT nn, k, ts1, ts2, gm,
                 sum(n * (m - gm) * (m - gm)) AS ssb
          FROM c GROUP BY 1, 2, 3, 4, 5)
    SELECT k, nn AS n,
           ROUND(ssb / (k - 1) / ((ts2 - ts1 * ts1 / nn - ssb) / (nn - k)), 6)
             AS f_stat,
           ROUND(ssb / (ts2 - ts1 * ts1 / nn), 6) AS eta_squared
    FROM r
    """,
)
def q348_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across market segments: the F
    statistic (between-group vs within-group variance) and eta² (share
    of variance the segmentation explains) — the "does this grouping
    matter at all" gate that runs before the pairwise tests the stats
    wing already has (q273 A/A, q315 Mann-Whitney).  Two partial-
    aggregated passes: per-segment moments (|segments| rows), then one
    scalar combine — no window, no sort, nothing driver-side."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("v"))
    g = j.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("v").alias("m"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.sum("v").alias("s1"),
    )
    # ssb needs the grand mean alongside per-group moments: compute it
    # with a broadcast join of the 1-row grand aggregate instead of a
    # nested aggregate (Spark cannot nest sum(m - sum(..)) like the
    # oracle's scalar-subquery form)
    gt = g.agg(
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
        F.sum("n").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
    )
    comb = g.crossJoin(F.broadcast(gt)).select(
        "n",
        "m",
        "nn",
        "k",
        "ts1",
        "ts2",
        (F.col("ts1") / F.col("nn")).alias("gm"),
    )
    res = comb.groupBy("nn", "k", "ts1", "ts2", "gm").agg(
        F.sum(
            F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
        ).alias("ssb")
    )
    return res.select(
        F.col("k"),
        F.col("nn").alias("n"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (
                (
                    F.col("ts2")
                    - F.col("ts1") * F.col("ts1") / F.col("nn")
                    - F.col("ssb")
                )
                / (F.col("nn") - F.col("k"))
            ),
            6,
        ).alias("f_stat"),
        F.round(
            F.col("ssb")
            / (F.col("ts2") - F.col("ts1") * F.col("ts1") / F.col("nn")),
            6,
        ).alias("eta_squared"),
    )


@register(
    "q349_degree_powerlaw",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e)
            GROUP BY 1),
    tail AS (SELECT d FROM deg WHERE d >= 2)
    SELECT CAST(count(*) AS BIGINT) AS n_tail,
           CAST(2 AS BIGINT) AS dmin,
           CAST(max(d) AS BIGINT) AS dmax,
           ROUND(1.0 + count(*) / sum(ln(CAST(d AS DOUBLE) / 1.5)), 6)
             AS alpha
    FROM tail
    """,
)
def q349_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law exponent of the co-purchase degree
    distribution via the Clauset-Shalizi-Newman MLE approximation
    (alpha = 1 + n / Σ ln(d/(dmin - 0.5)), dmin = 2) — the scale-free
    test that tells you whether hub mitigation (q342's degree caps,
    q75/q82's salting) is a nicety or a necessity on this graph.
    Two partial-aggregated passes over the edge list: degrees, then
    one scalar combine — no window, no sort; the edge build reuses the
    q334/q268 co-purchase shape."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    e = _copurchase_edges(op).distinct()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    tail = deg.filter(F.col("d") >= 2)
    return tail.agg(
        F.count("*").cast("long").alias("n_tail"),
        F.lit(2).cast("long").alias("dmin"),
        F.max("d").cast("long").alias("dmax"),
        F.round(
            F.lit(1.0)
            + F.count("*") / F.sum(F.log(F.col("d").cast("double") / F.lit(1.5))),
            6,
        ).alias("alpha"),
    )


@register(
    "q350_hoeffding_screen",
    """
    WITH j AS (SELECT p.p_brand AS brand,
                      CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    g AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(r) AS BIGINT) AS nr FROM j GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(nr) AS BIGINT) AS tr
          FROM g),
    s AS (SELECT brand, n, nr,
                 CAST(nr AS DOUBLE) / n AS p_brand,
                 CAST(tr AS DOUBLE) / tn AS p0,
                 sqrt(ln(2.0 / 0.01) / (2.0 * n)) AS eps
          FROM g CROSS JOIN t)
    SELECT brand, n, nr,
           ROUND(p_brand, 6) AS rate,
           ROUND(eps, 6) AS bound,
           ROUND(abs(p_brand - p0) - eps, 6) AS excess,
           CAST(CASE WHEN abs(p_brand - p0) > eps THEN 1 ELSE 0 END AS BIGINT)
             AS flagged
    FROM s ORDER BY excess DESC, brand LIMIT 10
    """,
)
def q350_hoeffding_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free anomaly screening: flag brands whose return
    rate deviates from the corpus rate by more than the Hoeffding
    bound eps = sqrt(ln(2/delta)/(2n)) at delta = 0.01 — a multiple-
    screening gate that needs NO distributional assumption and no
    normal-CDF machinery, so a flagged brand carries a real >=99%
    per-test guarantee.  The top 10 brands by excess are always
    reported (flagged 0/1), so a clean corpus shows HOW CLOSE its
    worst brand sits to the bound instead of an empty result.  One partial-aggregated (brand, outcome) pass,
    a broadcast 1-row total, and a scan-side filter — the per-brand
    bound tightens automatically as brands accumulate rows at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    )
    g = j.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r").cast("long").alias("nr"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("nr").cast("long").alias("tr")
    )
    import math

    s = g.crossJoin(F.broadcast(t)).select(
        "brand",
        "n",
        "nr",
        (F.col("nr").cast("double") / F.col("n")).alias("p_brand"),
        (F.col("tr").cast("double") / F.col("tn")).alias("p0"),
        F.sqrt(F.lit(math.log(2.0 / 0.01)) / (F.lit(2.0) * F.col("n"))).alias(
            "eps"
        ),
    )
    return (
        s.select(
            "brand",
            "n",
            "nr",
            F.round("p_brand", 6).alias("rate"),
            F.round("eps", 6).alias("bound"),
            F.round(F.abs(F.col("p_brand") - F.col("p0")) - F.col("eps"), 6).alias(
                "excess"
            ),
            (F.abs(F.col("p_brand") - F.col("p0")) > F.col("eps"))
            .cast("long")
            .alias("flagged"),
        )
        .orderBy(F.desc("excess"), F.asc("brand"))
        .limit(10)
    )


@register(
    "q351_leadlag_xcorr",
    """
    WITH d AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           AS DOUBLE) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                           AS DOUBLE) AS y
               FROM events GROUP BY 1),
    lags AS (SELECT unnest(range(-7, 8)) AS lag),
    p AS (SELECT l.lag, a.x, b.y
          FROM lags l JOIN d a ON TRUE JOIN d b ON b.day = a.day + l.lag),
    c AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
                 count(*) * sum(x * y) - sum(x) * sum(y) AS cov_n,
                 sqrt(count(*) * sum(x * x) - sum(x) * sum(x))
                   * sqrt(count(*) * sum(y * y) - sum(y) * sum(y)) AS den
          FROM p GROUP BY 1)
    SELECT lag, n_days,
           ROUND(cov_n / nullif(den, 0), 6) AS xcorr
    FROM c ORDER BY lag
    """,
)
def q351_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily view and purchase
    series at lags -7..+7 — which direction and distance the funnel
    signal travels (a positive-lag peak means views LEAD purchases by
    that many days); q252's rolling correlation assumes lag 0, this
    finds the lag.  The event scan partial-aggregates to one row per
    day; every join and moment after that runs on |days| x 15 rows —
    toy-sized at any corpus scale.  Pearson per lag from raw moments,
    NULL when a series is constant (guarded denominator)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("long").alias("lag"))
    a = d.select(F.col("day").alias("da"), "x")
    b = d.select(F.col("day").alias("db"), "y")
    p = (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    c = p.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        (F.count("*") * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).alias(
            "cov_n"
        ),
        (
            F.sqrt(F.count("*") * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
            * F.sqrt(F.count("*") * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
        ).alias("den"),
    )
    return c.select(
        "lag",
        "n_days",
        F.round(F.col("cov_n") / F.nullif(F.col("den"), F.lit(0.0)), 6).alias(
            "xcorr"
        ),
    ).orderBy("lag")


@register(
    "q352_linkpred_backtest",
    """
    WITH tr AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                WHERE a.l_shipdate < DATE '2000-01-01'
                  AND b.l_shipdate < DATE '2000-01-01'),
    te AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_shipdate >= DATE '2000-01-01'
             AND b.l_shipdate >= DATE '2000-01-01'),
    new_e AS (SELECT te.x, te.y FROM te
              WHERE NOT EXISTS (SELECT 1 FROM tr
                                WHERE tr.x = te.x AND tr.y = te.y)),
    adj AS (SELECT x AS c, y AS n FROM tr UNION ALL SELECT y AS c, x AS n FROM tr),
    deg AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    ctr AS (SELECT c, 1.0 / ln(CAST(d AS DOUBLE)) AS w FROM deg
            WHERE d BETWEEN 2 AND 32),
    ca AS (SELECT adj.c, adj.n, ctr.w FROM adj JOIN ctr USING (c)),
    p AS (SELECT a.n AS u, b.n AS v, SUM(a.w) AS aa
          FROM ca a JOIN ca b ON a.c = b.c AND a.n < b.n GROUP BY 1, 2),
    ne AS (SELECT * FROM p WHERE NOT EXISTS
             (SELECT 1 FROM tr WHERE tr.x = p.u AND tr.y = p.v)),
    pred AS (SELECT u, v FROM ne
             ORDER BY ROUND(aa, 6) DESC, u, v LIMIT 100),
    hits AS (SELECT CAST(count(*) AS BIGINT) AS h FROM pred
             JOIN new_e ON pred.u = new_e.x AND pred.v = new_e.y),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_new FROM new_e)
    SELECT CAST(100 AS BIGINT) AS k, n_new AS n_test_new, h AS n_hits,
           CAST((h * 1000000) // 100 AS BIGINT) AS precision_ppm
    FROM hits CROSS JOIN nn
    """,
)
def q352_linkpred_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal BACKTEST of Adamic-Adar link prediction: train the
    co-purchase graph on pre-2000 shipments, predict the top-100
    non-edges, and score them against the pairs that ACTUALLY co-sold
    for the first time from 2000 on — precision@100 with a real time
    split, the evaluation harness that turns q342 from a scorer into a
    measured model (and the leakage-safe split discipline of
    q58/q118 applied to graphs).  Train/test edge builds share the
    _copurchase_edges definition; the predicted cut is deterministic
    ((6dp score DESC, u, v)); all reported numbers are integers."""
    from .operators.graph import adamic_adar_links

    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("2000-01-01").cast("date")
    # train feeds the AA build AND the new-edge anti join: one lazy cut
    # instead of two lineitem self-joins
    train = (
        _copurchase_edges(li.filter(F.col("l_shipdate") < cut))
        .distinct()
        .localCheckpoint(eager=False)
    )
    test = _copurchase_edges(li.filter(F.col("l_shipdate") >= cut)).distinct()
    # new_e feeds both the hit join and the n_new count WITHOUT a
    # lineage cut: exchange reuse covers the shared self-join shuffles,
    # and an r7 paired measure showed a localCheckpoint here costs more
    # than the residual recompute it saves (3.2-3.9s vs 2.5-3.1s warm)
    new_e = test.join(train, ["u", "v"], "left_anti")
    # cap 32 (vs q342's 64): the 5-year training graph is much denser
    # than q342's quarter slice, and hub centers near the cap carry the
    # least pair-specific signal — the cap is declared semantics, so
    # the oracle applies the same bound
    pred = (
        adamic_adar_links(train, deg_cap=32)
        .orderBy(F.desc("aa_score"), F.asc("u"), F.asc("v"))
        .limit(100)
        .select("u", "v")
    )
    hits = pred.join(new_e, ["u", "v"]).agg(
        F.count("*").cast("long").alias("h")
    )
    nn = new_e.agg(F.count("*").cast("long").alias("n_new"))
    return hits.crossJoin(F.broadcast(nn)).select(
        F.lit(100).cast("long").alias("k"),
        F.col("n_new").alias("n_test_new"),
        F.col("h").alias("n_hits"),
        F.expr("(h * 1000000) div 100").cast("long").alias("precision_ppm"),
    )


@register(
    "q353_price_indices",
    """
    WITH py AS (SELECT l_partkey AS part,
                       CAST(year(l_shipdate) AS BIGINT) AS y,
                       sum(l_extendedprice) / sum(l_quantity) AS p,
                       sum(l_quantity) AS q
                FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
    pair AS (SELECT a.part, a.y AS y0, a.p AS p0, a.q AS q0, b.p AS p1, b.q AS q1
             FROM py a JOIN py b ON b.part = a.part AND b.y = a.y + 1),
    ix AS (SELECT y0, CAST(count(*) AS BIGINT) AS n_parts,
                  sum(p1 * q0) / sum(p0 * q0) AS lasp,
                  sum(p1 * q1) / sum(p0 * q1) AS paas
           FROM pair GROUP BY 1)
    SELECT y0 AS year_from, y0 + 1 AS year_to, n_parts,
           ROUND(lasp, 6) AS laspeyres,
           ROUND(paas, 6) AS paasche,
           ROUND(sqrt(lasp * paas), 6) AS fisher
    FROM ix ORDER BY y0
    """,
)
def q353_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained price indices between consecutive shipment years over
    the parts traded in both: Laspeyres (base-year basket), Paasche
    (current-year basket) and their Fisher geometric mean — the
    index-number economics of "did prices move, holding the basket
    fixed".  Unit values are sum(revenue)/sum(quantity) per (part,
    year) from ONE partial-aggregated pass; the consecutive-year pair
    join runs on the |parts| x |years| aggregate, never on lineitem
    rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").cast("long").alias("y"),
    ).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").alias("q"),
    )
    a = py.select("part", F.col("y").alias("y0"), F.col("p").alias("p0"), F.col("q").alias("q0"))
    b = py.select("part", (F.col("y") - 1).alias("y0"), F.col("p").alias("p1"), F.col("q").alias("q1"))
    ix = (
        a.join(b, ["part", "y0"])
        .groupBy("y0")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            (F.sum(F.col("p1") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))).alias("lasp"),
            (F.sum(F.col("p1") * F.col("q1")) / F.sum(F.col("p0") * F.col("q1"))).alias("paas"),
        )
    )
    return ix.select(
        F.col("y0").alias("year_from"),
        (F.col("y0") + 1).alias("year_to"),
        "n_parts",
        F.round("lasp", 6).alias("laspeyres"),
        F.round("paas", 6).alias("paasche"),
        F.round(F.sqrt(F.col("lasp") * F.col("paas")), 6).alias("fisher"),
    ).orderBy("year_from")


@register(
    "q354_theil_decomposition",
    """
    WITH j AS (SELECT c.c_nationkey AS nk, o.o_totalprice AS x
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT nk, CAST(count(*) AS BIGINT) AS ng, sum(x) AS s1,
                 sum(x * ln(x)) AS sl
          FROM j GROUP BY 1),
    t AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(s1) AS ts1,
                 sum(s1) / sum(ng) AS mu FROM g),
    parts AS (SELECT g.nk, g.ng, g.s1, g.sl, t.n, t.mu,
                     g.s1 / g.ng AS mug FROM g CROSS JOIN t),
    comb AS (SELECT max(n) AS n,
                    sum(sl / (n * mu) ) - ln(max(mu)) AS total,
                    sum((s1 / (n * mu)) * ln(mug / mu)) AS between_t,
                    sum((s1 / (n * mu)) * (sl / s1 - ln(mug))) AS within_t
             FROM parts GROUP BY n, mu)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(total, 6) AS theil_total,
           ROUND(within_t, 6) AS theil_within,
           ROUND(between_t, 6) AS theil_between
    FROM comb
    """,
)
def q354_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality DECOMPOSED into within-nation and between-
    nation components (within + between = total, the additive property
    that makes Theil the inequality index of choice for grouped data —
    q302 reports only the global scalar).  Using T_g = SL_g/(N_g mu_g)
    - ln(mu_g) from per-group sums of x and x ln x, the decomposition
    needs just TWO aggregate levels: per-nation moments (25 rows),
    then one scalar combine — no window, nothing driver-side."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(F.col("c_nationkey").alias("nk"), F.col("o_totalprice").alias("x"))
    g = j.groupBy("nk").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.log("x")).alias("sl"),
    )
    t = g.agg(
        F.sum("ng").cast("long").alias("n"),
        (F.sum("s1") / F.sum("ng")).alias("mu"),
    )
    parts = g.crossJoin(F.broadcast(t)).select(
        "ng", "s1", "sl", "n", "mu", (F.col("s1") / F.col("ng")).alias("mug")
    )
    comb = parts.groupBy("n", "mu").agg(
        (F.sum(F.col("sl") / (F.col("n") * F.col("mu"))) - F.log(F.max("mu"))).alias(
            "total"
        ),
        F.sum((F.col("s1") / (F.col("n") * F.col("mu"))) * F.log(F.col("mug") / F.col("mu"))).alias(
            "between_t"
        ),
        F.sum(
            (F.col("s1") / (F.col("n") * F.col("mu")))
            * (F.col("sl") / F.col("s1") - F.log("mug"))
        ).alias("within_t"),
    )
    return comb.select(
        F.col("n").cast("long").alias("n"),
        F.round("total", 6).alias("theil_total"),
        F.round("within_t", 6).alias("theil_within"),
        F.round("between_t", 6).alias("theil_between"),
    )


@register(
    "q355_forecast_mase",
    """
    WITH d AS (SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
                      sum(o_totalprice) AS y
               FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1),
    l AS (SELECT day, y,
                 lag(y, 7) OVER (ORDER BY day) AS y7,
                 lag(y, 1) OVER (ORDER BY day) AS y1
          FROM d),
    m AS (SELECT CAST(count(y7) AS BIGINT) AS n_scored,
                 avg(abs(y - y7)) AS mae7,
                 avg(CASE WHEN y1 IS NOT NULL THEN abs(y - y1) END) AS mae1,
                 avg(CASE WHEN y7 IS NOT NULL
                          THEN 2.0 * abs(y - y7) / (abs(y) + abs(y7)) END) AS smape
          FROM l)
    SELECT n_scored,
           ROUND(mae7 / mae1, 6) AS mase,
           ROUND(smape, 6) AS smape
    FROM m
    """,
)
def q355_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation of the seasonal-naive baseline
    (predict today = same weekday last week) on the 1995 daily revenue
    series: MASE (Hyndman & Koehler's scale-free standard — MAE of the
    forecast over MAE of the naive-1 random walk; < 1 beats naive) and
    sMAPE.  The evaluation gate every forecasting pipeline runs before
    trusting a model — the wing's seasonal tools (q219/q221/q283)
    describe the series, this scores a predictor on it.  The order
    scan partial-aggregates to one row per day; the lag windows run
    over the |days| spine (the bounded-cardinality global-window
    class, audited in PLANS.md)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    )
    d = orders.groupBy(
        F.expr("unix_micros(o_orderdate) div 86400000000")
        .cast("long")
        .alias("day")
    ).agg(F.sum("o_totalprice").alias("y"))
    w = Window.orderBy("day")
    l = d.select(
        "day",
        "y",
        F.lag("y", 7).over(w).alias("y7"),
        F.lag("y", 1).over(w).alias("y1"),
    )
    m = l.agg(
        F.count("y7").cast("long").alias("n_scored"),
        F.avg(F.abs(F.col("y") - F.col("y7"))).alias("mae7"),
        F.avg(
            F.when(F.col("y1").isNotNull(), F.abs(F.col("y") - F.col("y1")))
        ).alias("mae1"),
        F.avg(
            F.when(
                F.col("y7").isNotNull(),
                F.lit(2.0)
                * F.abs(F.col("y") - F.col("y7"))
                / (F.abs("y") + F.abs("y7")),
            )
        ).alias("smape"),
    )
    return m.select(
        "n_scored",
        F.round(F.col("mae7") / F.col("mae1"), 6).alias("mase"),
        F.round("smape", 6).alias("smape"),
    )


@register(
    "q356_trend_mann_kendall",
    """
    WITH d AS (SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
                      sum(o_totalprice) AS y
               FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1),
    p AS (SELECT CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sg,
                 (b.y - a.y) / (b.day - a.day) AS slope
          FROM d a JOIN d b ON b.day > a.day),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
    s AS (SELECT CAST(sum(sg) AS BIGINT) AS s_stat, median(slope) AS ts FROM p)
    SELECT nd AS n_days, s_stat,
           ROUND((s_stat - CASE WHEN s_stat > 0 THEN 1
                                WHEN s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt(nd * (nd - 1) * (2 * nd + 5) / 18.0), 6) AS z_stat,
           ROUND(ts, 6) AS theil_sen_slope
    FROM s CROSS JOIN n
    """,
)
def q356_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric trend kit on the 1995 daily-revenue series:
    Mann-Kendall S and its continuity-corrected z (is there a monotone
    trend at all — no normality assumption, unlike q318's
    Durbin-Watson residual test) plus the Theil-Sen slope (median of
    all pairwise slopes — the robust trend magnitude a single outlier
    day cannot move, unlike q213's OLS).  The order scan
    partial-aggregates to the |days| spine FIRST, so the O(|days|²)
    pair join runs on ~365 rows (~66k pairs) — bounded at any corpus
    scale, the q324-class spine posture.  The no-ties variance formula
    is declared (revenue sums are continuous; exact ties measure
    zero)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    )
    # the day spine feeds both pair legs AND the count: one lazy cut
    # instead of three orders scans (the r6 single-upstream-pass rule)
    d = (
        orders.groupBy(
            F.expr("unix_micros(o_orderdate) div 86400000000")
            .cast("long")
            .alias("day")
        )
        .agg(F.sum("o_totalprice").alias("y"))
        .localCheckpoint(eager=False)
    )
    a = d.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = d.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    p = a.join(b, F.col("db") > F.col("da")).select(
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
        .alias("sg"),
        ((F.col("yb") - F.col("ya")) / (F.col("db") - F.col("da"))).alias(
            "slope"
        ),
    )
    n = d.agg(F.count("*").cast("long").alias("nd"))
    s = p.agg(
        F.sum("sg").cast("long").alias("s_stat"),
        F.expr("percentile(slope, 0.5)").alias("ts"),
    )
    return s.crossJoin(F.broadcast(n)).select(
        F.col("nd").alias("n_days"),
        "s_stat",
        F.round(
            (
                F.col("s_stat")
                - F.when(F.col("s_stat") > 0, 1)
                .when(F.col("s_stat") < 0, -1)
                .otherwise(0)
            )
            / F.sqrt(
                F.col("nd") * (F.col("nd") - 1) * (2 * F.col("nd") + 5) / 18.0
            ),
            6,
        ).alias("z_stat"),
        F.round("ts", 6).alias("theil_sen_slope"),
    )
