"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (q08 grouped aggregates, the TPC-H Q1
shape that generalizes the reference's advertised-but-unbuilt
``AGGREGATE:function:field``) on sf0.001.

``queries()`` / ``oracle_sql()`` — the full declared inventory from
SURVEY.md §2.6, implemented in
:mod:`real_time_stream_processing_engine_spark.queries`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES

# The driver's correctness run covers a bounded window of queries()
# (~50 per round), so ordering is coverage policy.  With the cumulative
# ledger closed at 356/356 (round 9), the policy is freshness: rows
# whose code this round touches lead, then rows under bench
# adjudication, then everything else oldest-driver-check-first; the
# oracle-less rows (contract queries, which the driver checks on rows
# only) come last, head ones included.  Every row is additionally
# checked by oracle or contract in tests/ and in the committed
# scripts/correctness.py artifacts at two SFs.
#
# Provenance of the committed order, kept in sync by
# scripts/gen_risk_order.py --write and read by the regeneration pin
# (tests/test_r10_fixes.py): the head prefixes and the inclusive
# CORRECTNESS_r* round range the staleness was computed from.  The
# driver lands a NEW artifact every round, so a pin that globs every
# artifact goes stale the moment it does (r10 verdict item 1).
_RISK_ORDER_HEAD: list[str] = ["q230", "q16", "q17", "q18", "q39", "q47", "q236", "q262", "q266", "q307", "q68", "q74", "q95", "q114", "q131", "q335", "q15", "q22", "q27", "q38", "q56", "q88", "q98", "q100", "q110", "q125", "q172", "q175", "q186", "q333", "q337", "q13", "q30", "q42", "q136", "q55", "q86"]
_RISK_ORDER_SOURCE_ROUNDS = (1, 12)
_RISK_ORDER = [
    # round-13 final ordering (r12 VERDICT item 1 + round-end policy):
    # the head leads with the 16 queries whose code ROUND 13 touched
    # (q230 literal-regex rewrite; fan_out_buckets at the five
    # bucket-expansion sites -> q16/q17/q18/q39/q47 and their
    # consumers q236/q262/q266/q307; lineage_cut wiring ->
    # q68/q74/q95/q114/q131/q335), followed by the rest of the
    # r12-touched set that only q262 of was driver-verified in the
    # r12 window (banded levenshtein, pointer jumping,
    # pandas-parallelism, streaming state-store/q88, lit_double_array
    # sites) — 37 prefixes, so the driver's ~50-query r13 window
    # covers every r13- AND r12-touched query.  The tail is pure
    # freshness from the CORRECTNESS_r01-r12 union, then the five
    # oracle-less prefixes (q114 among them, though in the head); q32
    # gained an oracle, so it takes its freshness place.
    "q230", "q16", "q17", "q18", "q39", "q47", "q236", "q262",
    "q266", "q307", "q68", "q74", "q95", "q131", "q335", "q15",
    "q22", "q27", "q38", "q56", "q88", "q98", "q100", "q110",
    "q125", "q172", "q175", "q186", "q333", "q337", "q13", "q30",
    "q42", "q136", "q55", "q86", "q273", "q274", "q275", "q276",
    "q277", "q278", "q279", "q280", "q281", "q282", "q283", "q284",
    "q285", "q286", "q287", "q288", "q323", "q331", "q332", "q232",
    "q244", "q289", "q290", "q291", "q292", "q293", "q294", "q295",
    "q296", "q297", "q298", "q299", "q300", "q301", "q302", "q303",
    "q304", "q305", "q306", "q309", "q310", "q311", "q312", "q313",
    "q314", "q315", "q316", "q317", "q318", "q319", "q320", "q321",
    "q322", "q324", "q325", "q326", "q327", "q328", "q329", "q330",
    "q334", "q336", "q338", "q339", "q90", "q91", "q92", "q93",
    "q94", "q96", "q97", "q99", "q102", "q103", "q104", "q106",
    "q107", "q108", "q109", "q111", "q112", "q113", "q115", "q116",
    "q117", "q118", "q119", "q120", "q121", "q122", "q340", "q341",
    "q343", "q344", "q345", "q346", "q347", "q348", "q349", "q350",
    "q351", "q352", "q353", "q354", "q355", "q356", "q123", "q124",
    "q126", "q127", "q128", "q129", "q132", "q133", "q139", "q140",
    "q142", "q143", "q144", "q145", "q146", "q147", "q150", "q151",
    "q152", "q153", "q154", "q155", "q156", "q158", "q159", "q160",
    "q161", "q162", "q163", "q164", "q165", "q166", "q168", "q171",
    "q173", "q174", "q181", "q182", "q188", "q190", "q192", "q10",
    "q37", "q40", "q49", "q50", "q57", "q58", "q61", "q62",
    "q63", "q64", "q65", "q73", "q75", "q82", "q85", "q130",
    "q134", "q135", "q137", "q138", "q141", "q149", "q157", "q167",
    "q169", "q170", "q176", "q177", "q178", "q179", "q180", "q183",
    "q184", "q185", "q187", "q189", "q191", "q342", "q01", "q02",
    "q03", "q04", "q05", "q06", "q07", "q08", "q09", "q11",
    "q12", "q14", "q19", "q20", "q21", "q23", "q24", "q25",
    "q26", "q28", "q29", "q31", "q32", "q33", "q34", "q35",
    "q36", "q41", "q43", "q46", "q48", "q67", "q69", "q148",
    "q308", "q51", "q52", "q53", "q54", "q59", "q60", "q66",
    "q70", "q71", "q72", "q76", "q77", "q78", "q79", "q80",
    "q81", "q84", "q87", "q89", "q193", "q194", "q195", "q196",
    "q197", "q198", "q199", "q200", "q201", "q202", "q203", "q204",
    "q205", "q206", "q207", "q208", "q209", "q210", "q211", "q212",
    "q213", "q214", "q215", "q216", "q217", "q218", "q219", "q220",
    "q221", "q222", "q223", "q224", "q225", "q226", "q227", "q228",
    "q229", "q231", "q233", "q234", "q235", "q237", "q238", "q239",
    "q240", "q241", "q242", "q243", "q245", "q246", "q247", "q248",
    "q249", "q250", "q251", "q252", "q253", "q254", "q255", "q256",
    "q257", "q258", "q259", "q260", "q261", "q263", "q264", "q265",
    "q267", "q268", "q269", "q270", "q271", "q272", "q114", "q101",
    "q105", "q44", "q45",
]


def _ordered(d: dict) -> dict:
    by_prefix = {name.split("_", 1)[0]: name for name in QUERIES}
    order = [by_prefix[p] for p in _RISK_ORDER if p in by_prefix]
    assert len(order) == len(QUERIES), "every query must appear in _RISK_ORDER"
    return {name: d[name] for name in order if name in d}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q08_grouped_agg"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query from SURVEY.md §2."""
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query.  The
    driver checks a query absent here on rows only; locally each such
    query is held to a contract against DuckDB's exact answer
    (``tests/oracle.CONTRACTS``, run by ``tests/`` and
    ``scripts/correctness.py``)."""
    return _ordered(ORACLE)
