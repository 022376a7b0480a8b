"""Count-min sketch: sublinear frequency estimation as plain DataFrames.

Completes the approx-sketch family (q44 t-digest percentiles, q45 HLL
distinct counts) with the FREQUENCY estimator: a depth x width counter
grid where every item increments one bucket per hash row and a point
query reads the MINIMUM across rows.  Published guarantees (Cormode &
Muthukrishnan 2005): estimates never undercount, and overcount exceeds
eps * N with probability at most delta, for eps = e / width and
delta = e^-depth — quantified against this implementation in
``tests/test_approx_variants.py``.

Everything is built from partial-aggregated groupBys over codegen hash
expressions (``xxhash64`` seeded per row) — the sketch IS a DataFrame
of at most depth x width rows, mergeable by (row, bucket) sum, so
per-partition sketches combine exactly like any other commutative
aggregate at 100 TB.  No oracle SQL exists for the point estimates
(DuckDB has no xxhash64), so q101/q105 have no oracle SQL; their
contract (``tests/oracle.CONTRACTS``) checks each estimate against the
exact count: never under, never over by more than e/WIDTH·N.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEPTH = 4
WIDTH = 1024


def _bucket(col: Column, row: int, width: int) -> Column:
    return F.pmod(F.xxhash64(col, F.lit(row)), F.lit(width))


def _hash_structs(col: str, depth: int, width: int):
    """The depth-row (row, bucket) expansion — ONE definition shared by
    build and estimate: if these ever diverged (a seed-scheme change
    applied to one side only), every estimate would silently probe the
    wrong buckets (r5 review catch)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("row"),
                    _bucket(F.col(col), r, width).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    )



def _check_num_bits(num_bits: int) -> None:
    """The bitmap is a list of 64-bit words; a num_bits that is not a
    multiple of 64 leaves bit positions past the last full word ->
    IndexError on the driver at build, or a wrong probe (r5 review
    catch)."""
    if num_bits < 64 or num_bits % 64 != 0:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")



def countmin_build(
    items: DataFrame, col: str = "tok", depth: int = DEPTH, width: int = WIDTH
) -> DataFrame:
    """(row, bucket, c): one scan, one partial-aggregated exchange of
    at most depth x width combined partials — the sketch table."""
    return (
        items.select(_hash_structs(col, depth, width).alias("h"))
        .groupBy("h.row", "h.bucket")
        .agg(F.count("*").alias("c"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str = "tok",
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Point queries: each probe re-hashes into its depth buckets,
    joins the (tiny, broadcast) sketch, and takes the row-minimum.
    Buckets never touched by any item read as 0."""
    hashed = probes.select(
        col, _hash_structs(col, depth, width).alias("h")
    ).select(col, "h.row", "h.bucket")
    joined = hashed.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(col).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_count")
    )


def countmin_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Exact sketch merge: bucket-wise sum — the property that lets
    per-partition / per-day sketches roll up without rescanning."""
    return (
        a.unionByName(b)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 3,
) -> list[int]:
    """Build a Bloom filter over ``key_col`` as a packed word array —
    the RUNTIME FILTER for joins whose build side is too big to
    broadcast as an exact key set.

    Each key sets ``num_hashes`` bit positions (``xxhash64(key, seed)
    pmod m``); positions pack into 64-bit words via a partial-aggregated
    ``bit_or`` groupBy — so the driver receives at most ``num_bits/64``
    longs (8 KiB at the default m=65536) regardless of key count.
    That bounded collect is the point: at 100 TB the exact key set of a
    selective dimension filter can be tens of GB (unbroadcastable), but
    its Bloom image is still 8 KiB, and shipping it into the fact scan
    turns a full-shuffle join into a pre-pruned one.  False positives
    only (never false negatives), so an exact join downstream keeps
    results exact — the filter is pure bandwidth savings, which is how
    Spark's own ``spark.sql.optimizer.runtime.bloomFilter`` applies it."""
    _check_num_bits(num_bits)
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
                for i in range(num_hashes)
            ]
        )
    ).alias("p")
    words = (
        df.select(pos)
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    arr = [0] * (num_bits // 64)  # _check_num_bits guarantees alignment
    for r in words:
        arr[int(r["w"])] = int(r["bits"])
    return arr


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bitmap: list[int],
    num_bits: int = 1 << 16,
    num_hashes: int = 3,
) -> DataFrame:
    """Filter ``df`` to rows whose key MAY be in the Bloom filter
    (all ``num_hashes`` bits set).  Pure codegen — the bitmap rides as
    an array literal in the plan and each probe is element_at + AND,
    no Python, no join, no shuffle; apply BEFORE the exact join.

    ``num_bits`` must agree with the build: probing pmod a larger
    modulus than the bitmap was built with indexes past the word array
    (NULL condition off-ANSI → rows silently dropped = FALSE
    NEGATIVES, the one guarantee a Bloom filter must never break; a
    runtime error under ANSI).  The bitmap itself pins the truth —
    64 * len(bitmap) — so a mismatch is refused here (r7 review)."""
    _check_num_bits(num_bits)
    if num_bits != 64 * len(bitmap):
        raise ValueError(
            f"num_bits={num_bits} does not match the bitmap "
            f"(64 * {len(bitmap)} words = {64 * len(bitmap)} bits): a "
            "build/probe modulus mismatch would produce false negatives"
        )
    clash = [c for c in df.columns if c.startswith("_bp_p")]
    if clash:
        # withColumn silently REPLACES a same-named column, so a real
        # `_bp_p0` would be overwritten by the scratch hash and then
        # dropped — the caller loses a column without an error (r8
        # review; same reserved-scratch contract as cdc's _u_*)
        raise ValueError(
            f"columns {clash} collide with bloom_prefilter's _bp_p* "
            "scratch names — rename them first"
        )
    arr = F.lit(bitmap)
    # each hash computed ONCE into a scratch column and reused for the
    # word index and the bit; the key reference stays in the column API
    # (an interpolated raw key name would break on columns needing
    # backticks) — only the scratch name, which we control, appears in
    # the shift expr (F.shiftleft takes a literal count) (r5 review)
    out = df
    cond = None
    scratch = []
    for i in range(num_hashes):
        c = f"_bp_p{i}"
        scratch.append(c)
        out = out.withColumn(
            c, F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
        )
        w = (F.col(c) / 64).cast("int")
        bit = F.expr(f"shiftleft(1L, cast({c} % 64 AS INT))")
        check = F.element_at(arr, w + 1).bitwiseAND(bit) != 0
        cond = check if cond is None else cond & check
    return out.filter(cond).drop(*scratch)
