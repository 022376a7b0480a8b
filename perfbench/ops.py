"""The `pipelines` op set and the timed op: build -> plan -> full
materialization to the ``noop`` sink, with the output's row count and an
order-insensitive checksum taken in the same job (``DataFrame.observe``).

Never ``count()``: Catalyst may prune the projection under a count, so
work the output depends on would not run."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_stream_processing_engine_spark.queries import ORACLE

# Scale factor the `pipelines` workload reads.
SF = 0.01
# A run makes max(1, seconds // PASS_S) timed passes, so every run times
# the same ops the same number of times whatever the speed of the program.
# PASS_S is about one warm pass on 4 CPUs, rounded up.
PASS_S = 5

# The query names one pass of `pipelines` runs: the nine reference
# pipelines, then every 48th name of the `sql` family (bench.py's roll-up)
# after them.
OPS = [
    "q01_filter_contains", "q02_column_filter_eq", "q03_filter_project",
    "q04_filter_count", "q05_transform_case", "q06_word_count",
    "q07_fused_filter_transform", "q08_grouped_agg", "q09_chained_pipeline",
    "q100_cooccurrence_pmi", "q168_duplicate_payments", "q221_seasonal_index",
    "q277_sentence_length_profile", "q345_copresence_pairs",
]


def rows_only(name: str) -> bool:
    """Queries without a DuckDB oracle are checked on row count only."""
    return name not in ORACLE


def _norm(c, dt: T.DataType):
    """A column with every float rendered to 10 significant digits, so the
    checksum ignores last-bit noise from the order of float additions."""
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.format_string("%.9e", c.cast("double") + F.lit(0.0))
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: _norm(x, dt.elementType)) if _has_float(dt) else c
    if isinstance(dt, T.StructType):
        if not _has_float(dt):
            return c
        return F.struct(*[_norm(c[f.name], f.dataType).alias(f.name) for f in dt.fields])
    if isinstance(dt, T.MapType):  # hash functions reject maps
        return F.to_json(F.array_sort(F.map_entries(c)))
    return c


def _has_float(dt: T.DataType) -> bool:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_float(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_float(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return _has_float(dt.keyType) or _has_float(dt.valueType)
    return False


def checksum_aggs(df: DataFrame) -> list:
    """Row count plus two sums over a 64-bit row hash (its low and high
    32 bits, so neither sum can overflow): equal for any row order."""
    h = F.xxhash64(*[_norm(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("h_lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("h_hi"),
    ]


def materialize(df: DataFrame, tag: str) -> dict:
    """Write ``df`` in full to the noop sink and return its
    ``{"rows", "h_lo", "h_hi"}``.  The write plans the query once, as a
    caller's own write would; a traced run splits planning from execution
    with the write's own SQL-execution start in the event log."""
    obs = Observation(tag)
    df.observe(obs, *checksum_aggs(df)).write.format("noop").mode("overwrite").save()
    got = obs.get
    return {k: int(got[k] or 0) for k in ("rows", "h_lo", "h_hi")}


def matches(name: str, got: dict, want: dict | None) -> bool:
    if want is None:
        return False
    if rows_only(name):
        return got["rows"] == want["rows"]
    return all(got[k] == want[k] for k in ("rows", "h_lo", "h_hi"))
