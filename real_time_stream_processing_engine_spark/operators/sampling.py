"""Deterministic sampling for training-data pipelines.

``df.sample()`` / ``rand()`` are wrong at 100 TB: a retried task
re-rolls its randomness, so a failed-and-recovered job emits a
*different* sample (and two runs over the same data never agree).  Both
operators below derive their randomness from ``md5(seed | row id)`` —
pure, retry-stable, reproducible across engines (so a SQL oracle can
verify the exact sample), and rebalance-proof (membership depends only
on the row, never on partitioning).

The reference has no sampling at all; this is north-star surface for
corpus curation (down-sample boilerplate languages, fixed-size
per-domain eval splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 28  # md5 prefix compared; 16^28 granularity is ample


def _draw_key(seed: str, id_col: str):
    """``seed|id`` as the deterministic draw key.  A NULL id is REFUSED
    per-row: ``concat_ws`` would silently SKIP it, handing every
    null-id row the identical ``md5(seed)`` draw — a correlated
    all-in/all-out block instead of a sample, one shard for all of
    them, one split for all of them (r5 review catch).  Deterministic
    sampling requires a real row identity; reject loudly at the first
    null instead."""
    id_s = F.col(id_col).cast("string")
    return F.concat_ws(
        "|",
        F.lit(seed),
        F.when(
            id_s.isNull(),
            F.raise_error(
                F.lit(
                    f"null {id_col}: deterministic sampling/sharding needs "
                    "a non-null row id"
                )
            ).cast("string"),
        ).otherwise(id_s),
    )



def _hash_hex(seed: str, id_col: str):
    """Uniform hex draw in [0, 16^28) as a STRING — membership tests are
    lexicographic hex-string compares, identical in any engine with md5
    (no hex->int parsing, which SQL dialects disagree on)."""
    return F.substring(F.md5(_draw_key(seed, id_col)), 1, _HEX_DIGITS)


def fraction_threshold_hex(fraction: float) -> str:
    """Driver-side hex threshold: keep rows whose draw < this string.
    fraction=1.0 returns 'g' — lexicographically above every hex draw,
    so the compare stays a fixed-width string comparison at the edge."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    n = int(fraction * (16 ** _HEX_DIGITS))
    if n >= 16 ** _HEX_DIGITS:
        return "g"
    return format(n, "x").rjust(_HEX_DIGITS, "0")

def shard_col(id_col: str, n_shards: int, seed: str = "shard1"):
    """Deterministic md5-derived shard id in [0, n_shards) — the same
    retry-stable draw as the samplers, as an integer.  Used to bound
    window-partition / bucket sizes at scale (e.g. sequence packing
    partitions by (group, shard) so no single window partition holds a
    whole language).  7 hex digits (< 2^28) parse identically as an int
    in any engine (``('0x' || substr(md5(..),1,7))::BIGINT`` in DuckDB)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.substring(F.md5(_draw_key(seed, id_col)), 1, 7)
    return (F.conv(h, 16, 10).cast("long") % n_shards).alias("shard")


def bernoulli_sample(
    df: DataFrame, fraction: float, id_col: str, seed: str = "s1"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep each row iff
    ``md5(seed|id) < threshold(fraction)``.

    A scan-side filter — no shuffle, no state, pushes through any plan;
    E[|out|] = fraction x |in| with binomial concentration.  Changing
    ``seed`` draws an independent sample; the same (seed, id) always
    decides the same way, which is what makes incremental re-runs and
    task retries emit identical corpora."""
    return df.filter(_hash_hex(seed, id_col) < fraction_threshold_hex(fraction))


def split_assign(
    df: DataFrame,
    splits: dict[str, float],
    id_col: str,
    seed: str = "split1",
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in
    exactly one named split, with probability proportional to its
    weight, decided by the same md5 draw as the samplers — so the split
    is stable under retries, repartitioning, and incremental re-runs
    (a doc keeps its split when the corpus grows, the property that
    keeps eval sets uncontaminated across dataset versions).

    Implemented as one CASE chain over cumulative hex thresholds — a
    scan-side projection, no shuffle.  Weights must sum to 1 (to 1e-9).
    Split names are compared in insertion order; the last split takes
    the remainder of the hash space so rounding never drops rows."""
    if out in df.columns:
        # withColumn silently REPLACES a same-named column (r8 review;
        # the reserved-scratch refusal contract used module-wide)
        raise ValueError(
            f"output column {out!r} already exists on the input — "
            "rename it or pass another `out`"
        )
    bad = {k: v for k, v in splits.items() if v <= 0}
    if bad:
        # negative weights pass the sum check but make the cumulative
        # thresholds non-monotonic -> a silently empty split and
        # inflated neighbors (r5 review catch)
        raise ValueError(f"split weights must be positive, got {bad}")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    draw = _hash_hex(seed, id_col)
    names = list(splits)
    expr = F.lit(names[-1])  # remainder of the hash space
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += splits[name]
        conds.append((name, fraction_threshold_hex(cum)))
    for name, thr in reversed(conds):
        expr = F.when(draw < thr, F.lit(name)).otherwise(expr)
    # reversed+otherwise builds: first matching cumulative bound wins
    return df.withColumn(out, expr)


def stratified_fixed_k(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    id_col: str,
    seed: str = "s1",
    out_rank: str | None = None,
) -> DataFrame:
    """Exactly-k-per-stratum uniform sample: rank rows inside each
    stratum by their hash draw and keep the first k.

    The hash order is a uniform random permutation per stratum, so this
    is sampling WITHOUT replacement, deterministic under retries.  Plan
    shape: row_number over (strata, hash) — Spark pushes the rank<=k
    limit below the exchange (WindowGroupLimit), so the shuffle carries
    at most k rows per stratum per map task; strata with fewer than k
    rows keep them all (the eval-split semantics you want)."""
    clash = [
        c for c in ("_sample_rk", out_rank) if c and c in df.columns
    ]
    if clash:
        raise ValueError(
            f"columns {clash} collide with stratified_fixed_k's rank "
            "output — rename them or pass another `out_rank` (r8 review)"
        )
    draw = _hash_hex(seed, id_col)
    w = Window.partitionBy(*strata_cols).orderBy(draw.asc(), F.col(id_col).asc())
    ranked = df.withColumn("_sample_rk", F.row_number().over(w))
    out = ranked.filter(F.col("_sample_rk") <= k)
    if out_rank:
        return out.withColumnRenamed("_sample_rk", out_rank)
    return out.drop("_sample_rk")


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str,
    id_col: str,
    seed: str = "mix2",
    default_rate: float = 1.0,
) -> DataFrame:
    """Per-group deterministic Bernoulli resampling — the corpus
    data-mixing stage (downsample boilerplate languages/domains,
    upweight rare ones) as ONE scan-side filter.

    Each group's rate becomes a hex threshold on the same md5(seed|id)
    draw as ``bernoulli_sample``, compiled into a single CASE — so
    membership is a pure row property (retry / repartition / corpus-
    growth stable), the plan has zero exchanges, and a row's draw is
    SHARED across seeds only if the seed matches: resampling with a new
    seed draws an independent mixture.  Groups absent from ``rates``
    keep ``default_rate`` — and a NULL group value is "absent" by
    construction (no CASE arm can equal it), so NULL-group rows keep
    ``default_rate`` rather than being dropped; unlike
    :func:`flattening_sample` there is no join here for a NULL to fall
    out of, so the quiet default is row-safe (r9 review, pinned in
    ``tests/test_r9_review_fixes3.py``)."""
    expr = F.lit(fraction_threshold_hex(default_rate))
    for g, r in rates.items():
        expr = F.when(F.col(group_col) == g, F.lit(fraction_threshold_hex(r))).otherwise(expr)
    return df.filter(_hash_hex(seed, id_col) < expr)


def repeat_rows(
    df: DataFrame,
    factors: dict[str, float],
    group_col: str,
    id_col: str,
    seed: str = "rep1",
    default_factor: float = 1.0,
    out: str = "epoch",
) -> DataFrame:
    """Deterministic per-group repetition — the upsampling half of data
    mixing (a sampling rate caps at 1 because repeating is a different
    decision; this is that operator).  A row in group g
    with factor f appears ``floor(f)`` times, plus one more iff its
    md5(seed|id) draw falls under ``frac(f)`` — so a factor of 2.5
    emits every row twice and an unbiased, retry-stable half of rows a
    third time, and E[copies] = f exactly.  Factors below 1 degrade to
    Bernoulli thinning (floor 0 + fractional draw), unifying both
    mixing directions under one primitive.

    Each copy is numbered 1..n in ``out`` (the epoch tag a training
    shuffle needs so repeats land in different batches).  Scan-side
    ``explode(sequence(...))`` — a Generate with no shuffle; rows with
    zero copies vanish at the explode.  Factors are literals compiled
    into one CASE, so the plan is identical for 2 groups or 200.
    A NULL group value matches no CASE arm and keeps
    ``default_factor`` (the :func:`mixture_sample` NULL contract —
    row-safe, no join to fall out of)."""
    if any(f < 0 for f in factors.values()) or default_factor < 0:
        raise ValueError("repeat factors must be >= 0")
    if out in df.columns:
        raise ValueError(
            f"output column {out!r} already exists on the input — "
            "rename it or pass another `out` (r8 review)"
        )
    import math

    draw = _hash_hex(seed, id_col)

    def n_copies(f: float):
        base = int(math.floor(f))
        extra = (draw < fraction_threshold_hex(f - base)).cast("int")
        return F.lit(base) + extra

    expr = n_copies(default_factor)
    for g, f in factors.items():
        expr = F.when(F.col(group_col) == g, n_copies(f)).otherwise(expr)
    copies = F.when(
        expr >= 1, F.sequence(F.lit(1), expr.cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn(out, F.explode(copies))


def weighted_sample(
    df: DataFrame,
    rate_col: str,
    id_col: str,
    seed: str = "w1",
    digits: int = 13,
) -> DataFrame:
    """Per-ROW deterministic Bernoulli: keep a row iff
    ``frac(md5(seed|id)) < rate`` where ``rate`` is the row's own keep
    probability in [0, 1] — the continuous generalization of
    :func:`mixture_sample`'s per-group rates (quality-weighted corpus
    construction: keep probability proportional to a quality score).

    The draw is the first 13 hex digits of the shared md5(seed|id)
    family parsed as an integer over 16^13 — 52 bits, exactly
    representable in a double, so an oracle parsing the same digits
    computes the identical fraction and the identical keep set.  Same
    determinism contract as every other sampler here:
    retry/repartition/growth-stable, zero exchanges.

    NULL-rate rows are EXCLUDED (``draw < NULL`` is NULL, which the
    filter drops) — the family's convention for NULL weights
    (:func:`systematic_weighted_sample` and
    :func:`budget_capped_select` document the same exclusion); a rate
    above 1 keeps the row always, at or below 0 never (the natural
    Bernoulli edge).  Pinned in ``tests/test_r9_review_fixes3.py``."""
    if not 1 <= digits <= 15:
        # 16 hex digits can exceed LONG max; conv's decimal string then
        # casts to NULL and the filter silently drops ~half of all rows
        # (r5 review catch).  15 digits = 60 bits, always in range.
        raise ValueError(f"digits must be in [1, 15], got {digits}")
    draw = F.conv(
        F.substring(
            F.md5(_draw_key(seed, id_col)),
            1,
            digits,
        ),
        16,
        10,
    ).cast("long").cast("double") / F.lit(float(16**digits))
    return df.filter(draw < F.col(rate_col))


def systematic_weighted_sample(
    df: DataFrame,
    weight_col: str,
    order_cols: list[str],
    k: int,
) -> DataFrame:
    """EXACT-k systematic (probability-proportional-to-size) sample:
    lay every row's integer weight end-to-end along the cumulative
    axis in ``order_cols`` order, cut the total into ``k`` equal
    strata, and keep each row whose weight span crosses a stratum
    boundary — the classic systematic PPS design (one guaranteed pick
    per stratum; a row wider than a stratum is picked once, holding
    output <= k while preserving PPS).

    This is the third determinism tier of the module: Bernoulli
    samplers (hash draws) give rate-EXPECTED sizes; this gives an
    exact count with inclusion probability ∝ weight and ZERO
    randomness — same data + order => same sample, bit-for-bit, on
    any engine (all arithmetic is BIGINT floor division).

    The cumulative sum is the scale risk, and it does NOT use a
    global-order window (one task sorting the corpus): it rides
    :func:`..stats.distributed_cumsum` — range-exchange + parallel
    per-partition windows + |partitions|-row driver offsets.  The
    total joins back as a broadcast 1-row aggregate.

    Rows with NULL or non-positive weight are excluded (they have no
    span on the axis).  Output: input ``order_cols`` head column set
    plus ``w``, ``cum`` and 1-based ``stratum`` (the first stratum the
    row's span covers)."""
    from .stats import distributed_cumsum

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    base = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).select(*order_cols, F.col(weight_col).cast("long").alias("w"))
    r = distributed_cumsum(base, order_cols + [], "w")
    # the total is the running sum's last value — read it from the
    # cumsum's already-materialized output instead of replaying the
    # caller's whole scan+filter lineage a second time (the r6
    # single-upstream-pass rule)
    tot = r.agg(F.max("cum").alias("_tot"))
    # Type audit (r7): distributed_cumsum returns cum as DECIMAL(38,0)
    # (stats.py), so cum * k is decimal arithmetic with runtime
    # overflow only at cum*k >= 1e38 — far beyond any corpus (totals
    # ~1e15 x k ~1e4 is 1e19).  `div` (IntegralDivide) accepts
    # decimals and returns BIGINT, so the stratum math stays integral.
    # Do NOT cast cum down (e.g. decimal(19,0)): that would cap the
    # usable total at 1e19 and ANSI-error past it — the r7 review
    # caught exactly that narrowing.
    k_i = int(k)
    hi = F.expr(f"(cum * {k_i}) div _tot")
    lo = F.expr(f"((cum - w) * {k_i}) div _tot")
    sel = (
        r.crossJoin(F.broadcast(tot))
        .filter(hi > lo)
        .select(
            *order_cols,
            F.col("w").cast("long").alias("w"),
            F.col("cum").cast("long").alias("cum"),
            (lo + 1).cast("long").alias("stratum"),
        )
    )
    return sel


def group_uniform_sample(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
    seed: str = "gr1",
) -> DataFrame:
    """EXACT-k uniform sample per group, zero randomness: rank rows
    inside each group by their md5 hex draw (the module's shared
    ``seed|id`` family) and keep the ``k`` smallest.  Groups smaller
    than ``k`` pass through whole.  Same determinism contract as every
    sampler here — retry/repartition/growth-stable, and any engine
    with md5 reproduces the identical member set (lexicographic hex
    compare, no hex->int parsing).

    Complements the rate-based tiers: :func:`stratified_sample` gives
    expected-size strata, :func:`systematic_weighted_sample` exact-k
    GLOBAL PPS; this is exact-k PER GROUP uniform — the "5 examples
    per (lang, source) cell" eval-set shape.

    The rank is a per-group row_number window, and Spark's
    WindowGroupLimit pushes the rank<=k cut MAP-SIDE (pinned in
    tests/test_plans.py): each task forwards at most k rows per group,
    so the exchange carries k x |groups| x |tasks| rows worst case and
    a mega-group never ships whole — the local-top-k-then-global-top-k
    decomposition is exact because the draw is a total order.  Output:
    input columns + ``draw`` (hex) + 1-based ``sample_rank``."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    clash = [c for c in ("draw", "sample_rank") if c in df.columns]
    if clash:
        raise ValueError(
            f"columns {clash} collide with group_uniform_sample's "
            "output columns — rename them first (r8 review)"
        )
    d = df.withColumn("draw", _hash_hex(seed, id_col))
    w = Window.partitionBy(*group_cols).orderBy("draw", id_col)
    return (
        d.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def budget_capped_select(
    df: DataFrame,
    score_col: str,
    cost_col: str,
    id_col: str,
    budget: int,
) -> DataFrame:
    """Greedy budget-capped curation: walk rows in (``score_col``
    DESC, ``id_col``) order and keep each while the running
    ``cost_col`` total stays within ``budget`` — "take the best
    documents until the token budget is spent", the final cut of every
    training-mix recipe (fixed token target, quality-ranked supply).

    This implements the strict PREFIX form: a row is kept iff its
    inclusive running cost fits, so the first row whose cumulative
    cost exceeds the budget ends the selection — rows after it are
    excluded even if they would individually fit.  That keeps the
    result a pure ranking cut (reproducible, auditable, exactly what a
    SQL window replays), unlike skip-and-continue greedy knapsack
    variants whose kept set depends on every earlier exclusion.

    The running sum is :func:`..stats.distributed_cumsum` (range
    exchange + parallel per-partition windows + |partitions|-row
    driver offsets), never a one-task global window.  Rows with NULL
    score or NULL/non-positive cost are excluded up front (no span on
    the cost axis).  Output: ``id_col``, ``score_col``, ``cost_col``,
    ``cum_cost`` (inclusive, BIGINT)."""
    from .stats import distributed_cumsum

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    base = (
        df.filter(
            F.col(score_col).isNotNull()
            & F.col(cost_col).isNotNull()
            & (F.col(cost_col) > 0)
        )
        .select(
            F.col(id_col),
            F.col(score_col),
            F.col(cost_col).cast("long").alias("_cost"),
            (-F.col(score_col)).alias("_negscore"),
        )
    )
    r = distributed_cumsum(base, ["_negscore", id_col], "_cost")
    return (
        r.filter(F.col("cum") <= budget)
        .select(
            id_col,
            score_col,
            F.col("_cost").cast("long").alias(cost_col),
            F.col("cum").cast("long").alias("cum_cost"),
        )
    )


def flattening_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    target_per_group: int,
    seed: str = "fl1",
) -> DataFrame:
    """Inverse-frequency flattening: keep each row of group g with
    probability ``min(1, target / |g|)`` so every group lands at an
    EXPECTED ``target_per_group`` rows — the "don't let one domain
    swamp the mix" stage of corpus balancing.  Unlike
    :func:`mixture_sample` (literal per-group rates), the rate here is
    DERIVED FROM THE DATA: one counting aggregate joins back onto the
    scan (a |groups|-row frame — Catalyst broadcasts while it fits).

    Membership is integer-exact, not a float compare: keep iff
    ``draw7 * |g| < target * 16^7`` where ``draw7`` is the first 7 hex
    digits of the shared ``md5(seed|id)`` draw — all BIGINT, so any
    engine with md5 reproduces the identical keep set and the sample
    stays retry/repartition-stable.  (7 digits keep the product within
    BIGINT for |g| up to ~2^34 rows per group; granularity 1/16^7 ≈
    4e-9 is far below any sampling-noise floor.)  Rows with a NULL
    ``group_col`` are refused loudly (``raise_error`` on the join key)
    rather than silently dropped by the inner join.  Per-group counts
    shift under corpus growth, so unlike the fixed-rate samplers this
    one is growth-stable only WITHIN a group snapshot — that is the
    semantics of flattening (the rate is a function of the corpus)."""
    if target_per_group <= 0:
        raise ValueError(
            f"target_per_group must be positive, got {target_per_group}"
        )
    # NULL group values are REFUSED per-row (same loud posture as
    # _draw_key's null-id refusal): the inner join below would
    # otherwise silently drop them — a hidden row-loss class, not a
    # sample.  raise_error rides the join key, so every scanned row is
    # checked.
    gtype = df.schema[group_col].dataType
    guarded = F.when(
        F.col(group_col).isNull(),
        F.raise_error(
            F.lit(
                f"null {group_col}: flattening joins on the group key; "
                "a NULL group would be silently dropped"
            )
        ).cast(gtype),
    ).otherwise(F.col(group_col))
    base = df.withColumn(group_col, guarded)
    counts = base.groupBy(group_col).agg(F.count("*").alias("_n"))
    draw7 = F.conv(
        F.substring(F.md5(_draw_key(seed, id_col)), 1, 7), 16, 10
    ).cast("long")
    # fold target * 16^7 driver-side: as two INT literals the product
    # overflows int32 during constant folding under ANSI mode
    threshold = F.lit(int(target_per_group) * (16 ** 7)).cast("long")
    return (
        base.join(counts, group_col)
        .filter(draw7 * F.col("_n") < threshold)
        .select(*[F.col(c) for c in df.columns])
    )
