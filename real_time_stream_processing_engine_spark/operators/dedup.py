"""Deduplication operators — the large-scale training-data-pipeline
surface (north star; the reference has nothing comparable).

All hashing is md5-based so a SQL oracle can reproduce results
bit-for-bit; every operator stays JVM-side (no Python UDFs) and is
shaped for 100 TB:

- exact dedup        : hash-groupBy on a normalized fingerprint — one
                       shuffle on the fingerprint, map-side combined.
- minhash signatures : one pass over shingles, K min-aggregates in a
                       single hash aggregate (not K passes, not a K-way
                       explode) — shuffle volume = |docs| x K hashes.
- LSH candidates     : self-join on (band, signature) buckets — linear
                       in corpus + bucket sizes, never all-pairs.
- n-gram jaccard     : exact verify on candidate/blocked pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import fan_out, fan_out_buckets
from ..functions.textfn import normalize_ws, tokenize

N_MINHASH = 8
SHINGLE = 3

# Default mega-bucket cap for every bucket-pair operator below.  A
# bucket is one band/gram/block value's member list collect_list'd into
# ONE task; pair expansion is |bucket|^2, so an uncapped boilerplate
# bucket (one band shared by 10^6 docs at 100 TB) is an executor OOM,
# not a slowdown.  4096 members = ~8M pairs per bucket, comfortably one
# task's work; raise it deliberately, not by accident.
MAX_BUCKET = 4096


def _cap_buckets(
    buckets: DataFrame,
    arr_col: str,
    max_bucket: int | None,
    on_overflow: str,
) -> tuple[DataFrame, DataFrame | None]:
    """Enforce the mega-bucket cap on a (key, collect_list) frame.

    ``on_overflow='drop'`` (the default: a boilerplate mega-bucket
    should degrade recall, not kill a 10-hour job) filters oversized
    buckets out with accounting: the second return value is a one-row
    lazy stats frame (``overflow_buckets``, ``overflow_members``,
    ``max_bucket_size``) the caller runs to audit what was dropped — a
    DataFrame rather than an ``observe`` metric because AQE's
    empty-relation propagation can erase a mid-plan CollectMetrics node
    exactly when every bucket was dropped, i.e. when the accounting
    matters most.  The stats frame rides on the returned pairs frame as
    a plain ``bucket_overflow`` attribute: read it off THAT object (any
    further transformation returns a new DataFrame without it), and
    note it re-runs the bucket aggregation when evaluated.  Pipelines
    that must not quietly under-report dups (and exact-oracle runs,
    whose SQL models no cap) opt into ``'error'``, which fails the job
    with the offending size via ``raise_error``.
    """
    if max_bucket is None:
        return buckets, None
    if on_overflow not in ("drop", "error"):
        raise ValueError(f"on_overflow must be 'drop' or 'error', got {on_overflow!r}")
    size = F.size(arr_col)
    if on_overflow == "error":
        chk = F.when(
            size > max_bucket,
            F.raise_error(
                F.concat(
                    F.lit(f"bucket exceeds max_bucket={max_bucket}: size="),
                    size.cast("string"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
        return buckets.filter(chk), None
    stats = buckets.agg(
        F.count(F.when(size > max_bucket, 1)).alias("overflow_buckets"),
        F.coalesce(F.sum(F.when(size > max_bucket, size)), F.lit(0)).alias(
            "overflow_members"
        ),
        F.coalesce(F.max(size), F.lit(0)).alias("max_bucket_size"),
    )
    return buckets.filter(size <= max_bucket), stats


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Exact-dedup fingerprint: md5 of whitespace-normalized lowercase
    text.  Grouping on this column is the 100 TB exact-dedup plan (the
    fingerprint is 32 bytes regardless of doc size, so the shuffle
    carries hashes, not documents)."""
    if out in df.columns:
        # withColumn silently REPLACES a same-named column — a caller's
        # precomputed fingerprint would be clobbered without an error
        # (reserved-output contract; drop or rename to recompute)
        raise ValueError(
            f"output column {out!r} already exists on the input — "
            "drop it first or pass a different `out`"
        )
    return df.withColumn(out, F.md5(normalize_ws(text_col)))


def exact_dedup_clusters(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Cluster per distinct content: (fingerprint, n_docs, min id)."""
    return (
        fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_doc_id"))
    )


def dedup_against(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_docs`` whose content
    fingerprint does NOT appear in ``seen`` (a frame carrying
    ``fp_col``, e.g. the fingerprint column of every previously
    ingested batch).

    The streaming-ingest posture at 100 TB: each new batch anti-joins
    the corpus fingerprint set — a LEFT ANTI join on 32-byte hashes, so
    the join payload is hashes, not documents.  Catalyst broadcasts
    `seen` while it fits and degrades to a shuffled anti join on the
    hash beyond that; storing `seen` bucketed by fingerprint
    (catalog.create_bucketed) removes even that exchange.

    The join is NULL-SAFE: fingerprint(NULL text) is NULL, and a plain
    anti-join never matches NULL keys, so NULL-text rows would pass as
    'new' in every batch forever — inconsistent with
    :func:`exact_dedup_clusters`, which groups them as one cluster
    (r5 review catch)."""
    fps = fingerprint(new_docs, text_col, out=fp_col)
    seen_fp = seen.select(F.col(fp_col).alias("_seen_fp")).distinct()
    return fps.join(
        seen_fp, fps[fp_col].eqNullSafe(F.col("_seen_fp")), "left_anti"
    )


def shingles(df: DataFrame, text_col: str = "text", k: int = SHINGLE, out: str = "shingle") -> DataFrame:
    """Word k-shingles (distinct per doc).  Docs with fewer than k
    tokens produce no shingles (guarded: Spark's ``sequence`` would
    otherwise run backwards)."""
    from ..functions.textfn import gram_array

    clash = [c for c in df.columns if c in ("_toks", out)]
    if clash:
        # withColumn silently REPLACES same-named columns: a real
        # `_toks` would be destroyed (and dropped), a real `out`
        # overwritten by the shingle stream (reserved-scratch contract)
        raise ValueError(
            f"columns {clash} collide with shingles' _toks scratch / "
            f"{out!r} output names — rename or drop them first"
        )
    # single-split sources run the whole tokenize+gram+explode chain on
    # one core; no-op when the scan is already parallel (r12 opt)
    df = fan_out(df)
    toks = tokenize(text_col)
    df = df.withColumn("_toks", toks).filter(F.size("_toks") >= k)
    sh = gram_array(F.col("_toks"), k)
    return df.withColumn(out, F.explode(F.array_distinct(sh))).drop("_toks")


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = N_MINHASH
) -> DataFrame:
    """MinHash signatures: for seed s in 0..n-1, ``min(md5('s|'||shingle))``.

    One explode of shingles, then *one* hash aggregate computing all n
    minima (columns ``m0..m{n-1}``) — a single shuffle keyed on the doc
    id whose payload is n x 32 bytes per doc.  The md5-per-seed trick
    keeps it oracle-reproducible; swapping in xxhash64 is a one-line
    change for production."""
    sh = shingles(df.select(id_col, text_col), text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"m{s}")
        for s in range(n)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_long(sig: DataFrame, id_col: str = "doc_id", n: int = N_MINHASH) -> DataFrame:
    """(doc_id, seed, mh) long form of a signature frame via ``stack``
    (no shuffle — a generator projection)."""
    pairs = ", ".join(f"'{s}', m{s}" for s in range(n))
    return sig.select(id_col, F.expr(f"stack({n}, {pairs}) AS (seed, mh)"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = N_MINHASH,
    min_bands: int = 2,
    max_bucket: int | None = MAX_BUCKET,
    on_overflow: str = "drop",
) -> DataFrame:
    """LSH candidate pairs: docs sharing >= ``min_bands`` of ``n``
    single-row bands (collision probability per band = jaccard, so
    ``n_bands/n`` estimates jaccard).

    Shape: bucket-pairs, not a self-join — a (seed, mh) self-join
    re-executes the whole scan+shingle+minhash pipeline per join side;
    grouping by (seed, mh) computes signatures ONCE and expands each
    bucket's pair combinations in one JVM expression.  Cost is sum of
    squared bucket sizes, not |corpus|^2.  The 100 TB guard rail is
    ``max_bucket``: a band value shared by millions of docs is
    boilerplate text, and its |bucket|^2 expansion in one task is an
    OOM — oversized buckets are dropped with overflow accounting (see
    :func:`_cap_buckets`; drop counts land on the returned DataFrame's
    ``bucket_overflow`` stats frame) or, with ``on_overflow='error'``,
    fail the job loudly."""
    long = minhash_long(minhash_signatures(df, id_col, text_col, n), id_col, n)
    buckets = (
        long.groupBy("seed", "mh")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    buckets, overflow_stats = _cap_buckets(buckets, "ds", max_bucket, on_overflow)
    # spread the |bucket|² expansion: AQE coalesces the byte-light
    # bucket frame to ~1 partition (no-op at scale — r12 opt)
    buckets = fan_out_buckets(buckets)
    # sorted ids + (i < j) expansion keeps doc_a < doc_b by construction
    pair_expr = """
      flatten(transform(ds, (x, i) ->
        filter(transform(ds, (y, j) ->
          CASE WHEN j > i THEN named_struct('doc_a', x, 'doc_b', y) END),
          p -> p IS NOT NULL)))
    """
    pairs = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_bands"))
        .filter(F.col("n_bands") >= min_bands)
    )
    pairs.bucket_overflow = overflow_stats
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    k: int = SHINGLE,
    threshold: float = 0.5,
    max_bucket: int | None = MAX_BUCKET,
    on_overflow: str = "drop",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a gram-keyed join.

    Each doc's distinct k-shingles (same contract as the MinHash path,
    so q16's LSH candidates and this exact verify agree on the
    similarity space) are hashed to 64-bit ints; intersection sizes
    come from gram-bucket pair expansion, and each doc's gram count
    rides along inside the bucket structs, so the whole query is ONE
    corpus scan, three exchanges, and NO joins (the join formulation
    scanned the corpus four times: twice for the gram self-join, twice
    for the size lookups).  Bucket cost is sum of squared gram
    frequencies — safe when shingles are high-order (k>=3 word shingles
    are rare almost everywhere); where even k-shingles run hot,
    ``max_bucket`` bounds it.
    Jaccard = |A∩B| / (|A|+|B|-|A∩B|).

    ``max_bucket`` drops (with overflow accounting — the returned
    DataFrame's ``bucket_overflow`` stats frame) or errors on grams
    shared by more than ``max_bucket`` docs; dropping a hot gram is the
    classic stop-gram filter and slightly UNDER-estimates jaccard for
    pairs that shared it, which is the safe direction for dedup."""
    block_cols = [block_col] if block_col else []
    g = shingles(df.select(id_col, *block_cols, text_col), text_col, k=k).select(
        id_col, *block_cols, F.xxhash64("shingle").alias("gram")
    )
    # per-doc gram list + count in one hash aggregate, then re-explode
    # with the count attached — no separate sizes table to join back
    per_doc = g.groupBy(id_col, *block_cols).agg(
        F.collect_list("gram").alias("_gs")
    )
    long = per_doc.select(
        F.col(id_col).alias("doc_id"),
        *block_cols,
        F.size("_gs").alias("n"),
        F.explode("_gs").alias("gram"),
    )
    buckets = (
        long.groupBy(*block_cols, "gram")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    buckets, overflow_stats = _cap_buckets(buckets, "ms", max_bucket, on_overflow)
    # spread the |bucket|² expansion: AQE coalesces the byte-light
    # bucket frame to ~1 partition (no-op at scale — r12 opt)
    buckets = fan_out_buckets(buckets)
    pair_expr = """
      flatten(transform(ms, (x, i) ->
        filter(transform(ms, (y, j) ->
          CASE WHEN j > i THEN named_struct(
            'doc_a', x.doc_id, 'doc_b', y.doc_id,
            'na', x.n, 'nb', y.n) END),
          p -> p IS NOT NULL)))
    """
    inter = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .agg(F.count("*").alias("n_inter"))
    )
    pairs = (
        inter.select(
            F.col("doc_a"),
            F.col("doc_b"),
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    pairs.bucket_overflow = overflow_stats
    return pairs


# --------------------------------------------------------------------------
# SimHash (Charikar) — the third classic near-dup family alongside
# MinHash-LSH and n-gram Jaccard.  60-bit fingerprints derived from
# md5 (oracle-reproducible); everything JVM-side.
# --------------------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15  # 4 bands; Hamming <= 3 guarantees 1 exact band


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """60-bit SimHash per document: each token hashes to 60 bits (first
    15 hex chars of md5), every bit votes +1/-1 weighted by term
    frequency, sign of each vote column becomes the fingerprint bit.

    One token explode then ONE hash aggregate computing all 60 vote
    sums (map-side combined: the shuffle carries 60 longs per doc, not
    tokens), then a pure projection packs the fingerprint.  At 100 TB
    this is a single exchange keyed on doc_id."""
    # single-split sources run the explode + per-token md5/conv on one
    # core; no-op when the scan is already parallel (r12 opt)
    tok = fan_out(df.select(id_col, text_col)).select(
        id_col, F.explode(tokenize(text_col)).alias("_tok")
    )
    h = F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("long")
    # votes as set-bit counts: vote_i = 2*cnt_i - n, so bit_i = 1 iff
    # 2*cnt_i > n.  Flat sums + one COUNT keep the codegen small (a
    # 60-deep CASE/Add tree is slow to analyze and compile).  Each agg
    # is ONE parsed SQL string: the Column-API form (sum/shiftright/
    # bitwiseAND/alias per bit) cost ~5 py4j round trips x 60 bits
    # ~1.5-3 s of driver time PER QUERY BUILD (r12 opt measurement —
    # the bench times build + execute, and build dominated).
    votes = tok.withColumn("_h", h).groupBy(id_col).agg(
        F.count("*").alias("_n"),
        *[
            F.expr(f"sum(shiftright(_h, {i}) & 1) AS _c{i}")
            for i in range(bits)
        ],
    )
    # pack MSB-first into a binary string, one flat concat, then conv —
    # a single parsed expression for the same py4j reason
    bitchars = ", ".join(
        f"IF(2 * _c{i} > _n, '1', '0')" for i in reversed(range(bits))
    )
    fp = F.expr(f"CAST(conv(concat({bitchars}), 2, 10) AS BIGINT)")
    return votes.select(id_col, fp.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = MAX_BUCKET,
    on_overflow: str = "drop",
) -> DataFrame:
    """Near-dup pairs by banded SimHash: split the 60-bit fingerprint
    into 4 x 15-bit bands; pairs agreeing on >= 1 band are candidates
    (pigeonhole: Hamming <= 3 over 4 bands forces an exact band), then
    the exact Hamming distance filters.

    Shape: bucket-pairs, not a self-join — a self-join on the signature
    frame re-executes the whole scan+explode+aggregate pipeline per join
    side (Spark cannot reuse a shuffle exchange as a broadcast input),
    whereas grouping by (band_idx, band) computes signatures ONCE and
    expands the per-bucket pair combinations in a single JVM expression.
    Cost stays Σ|bucket|², never |corpus|²; ``max_bucket`` enforces the
    degenerate-bucket (boilerplate band) guard before the expansion,
    with overflow accounting on the returned DataFrame's
    ``bucket_overflow`` stats frame (see :func:`_cap_buckets`)."""
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    if max_hamming > n_bands - 1:
        # pigeonhole only guarantees a shared exact band for Hamming
        # <= bands-1; a larger radius would SILENTLY miss qualifying
        # pairs (one flipped bit per band -> no co-bucket).  Refuse
        # rather than under-deliver on the "pairs within max_hamming"
        # contract (r5 review catch).
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the banding guarantee "
            f"({n_bands} x {SIMHASH_BAND_BITS}-bit bands cover Hamming "
            f"<= {n_bands - 1}); re-band with more/narrower bands for a "
            "larger radius"
        )
    sig = simhash_signatures(df, id_col, text_col)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    stack_args = ", ".join(
        f"{j}, shiftright(simhash, {j * SIMHASH_BAND_BITS}) & {mask}"
        for j in range(n_bands)
    )
    bands = sig.select(
        F.col(id_col).alias("doc_id"),
        "simhash",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band_idx, band)"),
    )
    buckets = (
        bands.groupBy("band_idx", "band")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    buckets, overflow_stats = _cap_buckets(buckets, "ms", max_bucket, on_overflow)
    # spread the |bucket|² expansion: AQE coalesces the byte-light
    # bucket frame to ~1 partition (no-op at scale — r12 opt)
    buckets = fan_out_buckets(buckets)
    pair_expr = f"""
      flatten(transform(ms, (x, i) ->
        filter(transform(ms, (y, j) ->
          CASE WHEN j > i THEN named_struct(
            'doc_a', least(x.doc_id, y.doc_id),
            'doc_b', greatest(x.doc_id, y.doc_id),
            'hamming', CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)) END),
          p -> p IS NOT NULL AND p.hamming <= {int(max_hamming)})))
    """
    pairs = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )
    pairs.bucket_overflow = overflow_stats
    return pairs


def basket_similarity(
    items: DataFrame,
    entity_col: str = "entity",
    item_col: str = "item",
    min_common: int = 2,
    max_item_popularity: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity between entities' item SETS via the
    inverted item index — collaborative-filtering candidate
    generation (q141's operator form).

    Candidate pairs come only from entities sharing an item, so the
    work is Σ|item-entities|² over items, never |entities|².  A HOT
    item (bought by everyone) makes its term quadratic in the corpus;
    ``max_item_popularity`` drops such items BEFORE pairing — the same
    cap-and-account posture as the LSH mega-bucket cap
    (``dedup._cap_buckets``): set sizes are computed AFTER the cap, so
    the result is the exact Jaccard of the CAPPED bipartite graph
    (ubiquitous items are uninformative for similarity anyway), and
    the dropped-item accounting rides on the result as a lazy
    ``popularity_overflow`` 1-row frame (items_dropped,
    max_popularity) — read it off THIS object, BEFORE any further
    transformation: it is a plain Python attribute, so every
    DataFrame method (.select, .filter, ...) returns a NEW frame
    without it (r8 advice — capture first, e.g.
    ``sim = basket_similarity(...); audit = sim.popularity_overflow``).

    Output: (a, b, n_common, jaccard_ppm) with a < b, intersections
    >= ``min_common``, similarity as exact integer ppm."""
    # one lazy lineage cut on the distinct bipartite set: it feeds the
    # popularity count, the semi-join, the size aggregate, and BOTH
    # pair legs — without the cut the caller's upstream (q141's
    # orders x lineitem join + distinct) re-executes up to 4x (the r6
    # single-upstream-pass rule; r8 review)
    ei = items.select(
        F.col(entity_col).alias("e"), F.col(item_col).alias("i")
    ).distinct().localCheckpoint(eager=False)
    stats = None
    if max_item_popularity is not None:
        pop = ei.groupBy("i").agg(F.count("*").alias("np"))
        stats = pop.agg(
            F.count(F.when(F.col("np") > max_item_popularity, 1)).alias(
                "items_dropped"
            ),
            F.coalesce(F.max("np"), F.lit(0)).alias("max_popularity"),
        )
        keep = pop.filter(F.col("np") <= max_item_popularity).select("i")
        ei = ei.join(keep, "i", "left_semi")
    sz = ei.groupBy("e").agg(F.count("*").alias("n"))
    a = ei.select("i", F.col("e").alias("a"))
    b = ei.select("i", F.col("e").alias("b"))
    inter = (
        a.join(b, "i")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    sa = sz.select(F.col("e").alias("a"), F.col("n").alias("na"))
    sb = sz.select(F.col("e").alias("b"), F.col("n").alias("nb"))
    # NO broadcast hint: sz is |entities| rows — unbounded at scale; a
    # forced broadcast would bypass autoBroadcastJoinThreshold and OOM
    # the driver on a 100M-entity corpus.  Catalyst broadcasts while it
    # fits and degrades to a shuffled join beyond that (r5 review catch).
    out = (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("(n_common * 1000000) div (na + nb - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    out.popularity_overflow = stats
    return out


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    bucket_width: int = 16,
    prefix_len: int = 120,
    max_dist: int = 12,
) -> DataFrame:
    """Edit-distance near-dup pairs, length-bucket blocked — the
    typo/OCR-noise dedup family (token-set operators above are blind to
    character-level noise; Levenshtein is its exact measure).

    All-pairs Levenshtein is |corpus|² x O(prefix²) — never viable.
    Two filters bound it, both EXACT for the declared predicate
    ``|len(a) - len(b)| <= max_dist AND dist(prefix) <= max_dist``
    (lengths are FULL normalized lengths, so two long docs with
    identical prefixes but a full-length gap > max_dist are excluded
    by declaration — the oracle and the brute-force tests pin the same
    conjunction):

    - length blocking: edit distance >= |len(a) - len(b)|, so partner
      lengths live within ``max_dist``.  Docs hash-join on
      (``block_col``, length-bucket) with each doc probing its own and
      the next bucket (``bucket_width > max_dist`` makes bucket skew
      >= 2 imply length gap > max_dist); a pair straddling buckets
      matches once, in the higher bucket — dedup by construction, no
      distinct.  The residual in-bucket |len diff| <= max_dist check
      runs before any Levenshtein.
    - prefix truncation: the measured string is the first
      ``prefix_len`` chars of the whitespace-normalized text, making
      per-pair cost O(prefix_len²) flat, independent of document size
      (declared semantics, same posture as the q43 winnowing window).

    Work is Σ|bucket|x|adjacent| — bucket population is bounded by the
    length histogram slice, the usual mega-bucket story (hot buckets
    spread across tasks because the JOIN is a hash join on the bucket
    key, never a collect_list).  Levenshtein itself runs JVM-side
    (``F.levenshtein``), inside whole-stage codegen.  The multi-
    consumer frames here and in the other pair operators take
    executor-local lineage cuts (lazy localCheckpoint): never
    recomputed, but lost with an executor — a multi-hour cluster job
    swaps them for reliable checkpoints, the _round_persist lever the
    graph fixpoints already expose."""
    if bucket_width <= max_dist:
        raise ValueError(
            f"bucket_width ({bucket_width}) must exceed max_dist "
            f"({max_dist}): adjacent-bucket probing is only exact when "
            "a >=2-bucket skew implies a length gap beyond max_dist"
        )
    nw = normalize_ws(text_col)
    # NULL blocks excluded by declaration, like the Jaccard variants
    # (r7 review — the _blk equi-join silently dropped them anyway)
    base = (
        df.filter(F.col(text_col).isNotNull() & F.col(block_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            F.substring(nw, 1, prefix_len).alias("_pfx"),
            F.length(nw).alias("_len"),
        )
        .withColumn("_bkt", F.floor(F.col("_len") / bucket_width))
    )
    # each doc probes bucket b and b+1; a pair is counted at the
    # HIGHER of the two docs' buckets, exactly once
    probe = base.select(
        "*", F.explode(F.array(F.col("_bkt"), F.col("_bkt") + 1)).alias("_pb")
    )
    # Round-robin rebalance of the PROBE side: pair expansion makes
    # downstream work ∝ Σ|block|², not input bytes, so scan-derived
    # partitioning under-splits it badly (a single-file corpus slice
    # reads as ONE task and serializes every Levenshtein onto one
    # core — measured 65 s -> 3 s at sf0.1).  Round-robin, not
    # hash-by-block: with the other side hash-distributed by Catalyst
    # (broadcast while it fits), any probe row can meet its block
    # anywhere, and a hot (lang, bucket) block spreads over ALL tasks
    # instead of hashing onto one.  Explicit N so AQE cannot coalesce
    # the tiny-bytes exchange back into the single task it exists to
    # break up.
    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    # probe feeds BOTH join sides: one lazy cut instead of re-running
    # the scan + normalize + explode per side
    probe = probe.localCheckpoint(eager=False)
    a, b = probe.repartition(n_tasks).alias("a"), probe.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._pb") == F.col("b._pb"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(F.col("a._pb") == F.greatest(F.col("a._bkt"), F.col("b._bkt")))
        .filter(
            F.abs(F.col("a._len") - F.col("b._len")) <= max_dist
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            # thresholded levenshtein computes the BANDED DP — O(n*k)
            # instead of O(n²) per pair (10x fewer cells at
            # max_dist=12 over 120-char prefixes; r12 opt) — and
            # returns -1 for pairs beyond the bound, which the
            # >= 0 filter drops exactly as the old <= max_dist filter
            # did; surviving distances are the exact values.
            F.levenshtein(F.col("a._pfx"), F.col("b._pfx"), max_dist)
            .cast("long")
            .alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_df: int = 16,
    min_cont_ppm: int = 800_000,
) -> DataFrame:
    """Shingle-containment near-dup pairs — the SUBSET detector.
    Jaccard (q17/q141) misses a short doc embedded verbatim in a long
    one (|A∩B|/|A∪B| is small when |B| >> |A|); containment
    C(A,B) = |A∩B| / |A| is the standard fix (Broder's resemblance
    vs containment distinction).

    Shingle space is CHARACTER k-grams of the whitespace-normalized
    text (character level so word-boundary edits don't zero the
    overlap), distinct per doc.  The declared measure is containment
    over DISCRIMINATIVE shingles only — those appearing in at most
    ``max_df`` docs; boilerplate k-grams carry no identity signal, and
    dropping them from numerator AND denominator is what bounds the
    inverted-index join at Σ df² <= |shingles| x max_df instead of a
    hot-shingle blowup (the df filter plays the mega-bucket-cap role,
    but as part of the semantics, so an exact SQL oracle models it).

    Output: (doc_a, doc_b, n_common, cont_a_ppm, cont_b_ppm) for pairs
    where either direction's containment >= ``min_cont_ppm``, integer
    ppm throughout (floor division — deterministic at any parallelism)."""
    nw = normalize_ws(text_col)
    # rebalance BEFORE the shingle explode: downstream volume is
    # |docs| x |doc chars|, not input bytes, so a compact scan
    # partitioning serializes the explode (and every re-computation of
    # this unpersisted subtree) onto a handful of cores — same
    # pair-expansion partitioning rule as edit_distance_pairs
    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), nw.alias("_nw"))
        .filter(F.length("_nw") >= k)
        .repartition(n_tasks)
        .select(
            "_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(_nw) - {k - 1}), "
                        f"i -> substring(_nw, i, {k}))"
                    )
                )
            ).alias("_sh"),
        )
    )
    # sh feeds the df aggregate AND the semi-join probe; kept feeds the
    # per-doc counts and both pair-join legs — one lazy cut each
    # instead of re-running the shingle explode per consumer
    sh = sh.localCheckpoint(eager=False)
    kept = sh.join(
        sh.groupBy("_sh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("_sh"),
        "_sh",
        "left_semi",
    ).localCheckpoint(eager=False)
    nk = kept.groupBy("_id").agg(F.count("*").alias("_nk"))
    a = kept.select(F.col("_sh"), F.col("_id").alias("_ia"))
    b = kept.select(F.col("_sh"), F.col("_id").alias("_ib"))
    inter = (
        a.join(b, "_sh")
        .filter(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.count("*").alias("n_common"))
    )
    # per-doc kept-shingle counts: |docs| rows — Catalyst broadcasts
    # while small, shuffles beyond (same no-hint posture as
    # basket_similarity, r5 review catch)
    na = nk.select(F.col("_id").alias("_ia"), F.col("_nk").alias("_na"))
    nb = nk.select(F.col("_id").alias("_ib"), F.col("_nk").alias("_nb"))
    return (
        inter.join(na, "_ia")
        .join(nb, "_ib")
        .select(
            F.col("_ia").alias("doc_a"),
            F.col("_ib").alias("doc_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("(n_common * 1000000) div _na").cast("long").alias("cont_a_ppm"),
            F.expr("(n_common * 1000000) div _nb").cast("long").alias("cont_b_ppm"),
        )
        .filter(
            F.greatest(F.col("cont_a_ppm"), F.col("cont_b_ppm")) >= min_cont_ppm
        )
    )
