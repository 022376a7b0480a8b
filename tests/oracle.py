"""Local mirror of the driver's DuckDB-oracle comparison, and the one
correctness check every registered query is held to.

``check(name, df, con)`` returns one verdict dict for any query in the
registry.  A query with oracle SQL gets the hash compare (``compare``):
row count, column-name set, and an order-insensitive value hash
(columns sorted by name, floats rounded to 6 decimals, rows sorted
canonically) — the same contract CORRECTNESS_r{N}.json is built from.
A query whose output no SQL can reproduce exactly (sketch estimates,
the BPE merge fold) has an entry in ``CONTRACTS`` instead: a stated
bound, checked row by row against DuckDB's exact answer over the same
parquet tables.  Every query has exactly one of the two.

Round-6 hardening (VERDICT r5 "What's wrong" §3): the r1-r5 harness was
NOT predictive for output-type divergence — it fetched the oracle via
``fetchall()`` (DuckDB HUGEINT → exact Python int) and compared with
Python ``==`` (``65536.0 == 65536`` is True), so q232 (HUGEINT from
``sum(BIGINT)``) and q244 (DOUBLE from ``**``) were local-green but
driver-red for two rounds.  The driver's fetch path is arrow-shaped
(HUGEINT renders as float64, BIGINT-with-NULLs stays int64), so this
mirror now (a) fetches the oracle relation through ``rel.arrow()`` and
(b) tags every canonical value with its int/float/other class, making
``65536.0`` != ``65536``.  ``tests/test_oracle_dtype_parity.py`` closes
the class wholesale with a schema-level scan.
"""

from __future__ import annotations

import bisect
import math
import os
from collections import Counter
from typing import Any

import duckdb

from real_time_stream_processing_engine_spark.operators.sketches import WIDTH
from real_time_stream_processing_engine_spark.queries import _SQL_TOKS, ORACLE

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v: Any) -> Any:
    """Type-tagged canonical form: ints and floats never compare equal
    across the class boundary (the driver's hasher distinguishes them,
    so the local mirror must too — VERDICT r5)."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", round(v, 6))
    if isinstance(v, int):
        return ("i", v)
    if v is None:
        return None
    return ("s", str(v))


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def _duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    # Fetch through arrow: a leaked HUGEINT exports as decimal128(38,0)
    # (this duckdb; pandas .df() would render float64) — under the
    # tagged _canon either rendering can never compare equal to a Spark
    # bigint, while fetchall() converts HUGEINT to an exact Python int
    # and would hide the leak entirely.  BIGINT columns (NULLs
    # included) stay int64.  Extraction is POSITIONAL (per-column
    # to_pylist, zipped) — to_pylist() row dicts would silently
    # collapse duplicate output column names (r6 review catch).
    tbl = rel.arrow()
    rows = list(zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns)))) if tbl.num_columns else []
    return list(rel.columns), rows


def _shape_verdict(s_cols, s_rows, d_cols, n_oracle: int) -> dict:
    result = {
        "rows_spark": len(s_rows),
        "rows_oracle": n_oracle,
        "cols_spark": sorted(s_cols),
        "cols_oracle": sorted(d_cols),
    }
    result["rows_match"] = result["rows_spark"] == result["rows_oracle"]
    result["schema_match"] = result["cols_spark"] == result["cols_oracle"]
    return result


def _compare_rows(s_cols: list[str], s_rows: list[tuple], con, sql: str) -> dict:
    d_cols, d_rows = _duck_rows(con, sql)
    result = _shape_verdict(s_cols, s_rows, d_cols, len(d_rows))
    if result["rows_match"] and result["schema_match"]:
        cs = canonical_rows(s_cols, s_rows)
        cd = canonical_rows(d_cols, d_rows)
        result["values_match"] = cs == cd
        if not result["values_match"]:
            diff = [(a, b) for a, b in zip(cs, cd) if a != b][:5]
            result["first_diffs"] = diff
    else:
        result["values_match"] = False
    result["ok"] = result["rows_match"] and result["schema_match"] and result["values_match"]
    return result


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    return _compare_rows(list(spark_df.columns), [tuple(r) for r in spark_df.collect()], con, sql)


# ------------------------------------------------------------- contracts
#
# A contract is (output columns, fn(rows, con) -> (expected row count,
# violations)).  ``rows`` are the Spark result as dicts keyed by column
# name; a violation is any short tuple naming the row and the broken
# bound.  The verdict is ok only with the expected columns, the
# expected row count and no violation, so a builder that returns no
# rows, or rows the bound rules out, fails.

_Q44_ACCURACY = 10_000
_Q44_PCTS = (("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95))
_Q45_RSD = 0.01


def _q44_rank_error(rows: list[dict], con) -> tuple[int, list]:
    """approx_percentile(x, p, accuracy) returns a value whose rank in the
    group's exact sorted data lies in [(p - 1/acc)·n - 1, (p + 1/acc)·n + 1].
    A value tied across a run of equal prices may sit anywhere in that
    run, so a run that meets the interval passes."""
    groups = dict(
        con.sql(
            "SELECT l_returnflag, list(l_extendedprice ORDER BY l_extendedprice) "
            "FROM lineitem GROUP BY l_returnflag"
        ).fetchall()
    )
    bad: list = []
    if sorted(r["l_returnflag"] for r in rows) != sorted(groups):
        bad.append(("groups", sorted(r["l_returnflag"] for r in rows), sorted(groups)))
    for r in rows:
        vals = groups.get(r["l_returnflag"], [])
        n = len(vals)
        for col, p in _Q44_PCTS:
            v = r[col]
            if v is None:
                bad.append((r["l_returnflag"], col, v))
                continue
            first, last = bisect.bisect_left(vals, v) + 1, bisect.bisect_right(vals, v)
            lo = (p - 1 / _Q44_ACCURACY) * n - 1
            hi = (p + 1 / _Q44_ACCURACY) * n + 1
            if min(first, last) > hi or last < lo:
                bad.append((r["l_returnflag"], col, v, (first, last), (lo, hi)))
    return len(groups), bad


def _q45_cube_distinct(rows: list[dict], con) -> tuple[int, list]:
    """The cube lattice, ``n_events`` and ``sum_value`` equal q41's exact
    answer; HLL++'s ``n_users`` is within 3·rsd relative error."""
    cols, exact_rows = _duck_rows(con, ORACLE["q41_cube_distinct"])
    exact = {(e["event_type"], e["dow"]): e for e in (dict(zip(cols, t)) for t in exact_rows)}
    got = {(r["event_type"], r["dow"]): r for r in rows}
    bad: list = []
    if len(got) != len(rows) or got.keys() != exact.keys():
        bad.append(("lattice", sorted(got.keys() ^ exact.keys(), key=str)))
    for k in got.keys() & exact.keys():
        a, e = got[k], exact[k]
        for col in ("n_events", "sum_value"):
            if _canon(a[col]) != _canon(e[col]):
                bad.append((k, col, a[col], e[col]))
        if a["n_users"] is None or abs(a["n_users"] - e["n_users"]) > 3 * _Q45_RSD * e["n_users"]:
            bad.append((k, "n_users", a["n_users"], e["n_users"]))
    return len(exact), bad


def _countmin_top(items_sql: str, key: str, k: int):
    """Top-``k`` keys by count-min estimate.  Against the exact counts:
    no row undercounts; no row overcounts by more than e/WIDTH·N (N the
    item total); keys are distinct; and no key left out has an exact
    count above the smallest estimate returned (its estimate would have
    ranked it in)."""

    def contract(rows: list[dict], con) -> tuple[int, list]:
        exact = dict(con.sql(f"SELECT {key}, COUNT(*) FROM ({items_sql}) GROUP BY {key}").fetchall())
        bound = math.e / WIDTH * sum(exact.values())
        bad: list = []
        for r in rows:
            est, true = r["est_count"], exact.get(r[key], 0)
            if est is None or est < true or est - true > bound:
                bad.append((r[key], est, true, bound))
        keys = {r[key] for r in rows}
        if len(keys) != len(rows):
            bad.append(("duplicate keys", len(rows) - len(keys)))
        floor = min((r["est_count"] or 0 for r in rows), default=0)
        missed = [(t, c) for t, c in exact.items() if t not in keys and c > floor]
        if missed:
            bad.append(("heavier key left out", floor, sorted(missed, key=lambda x: -x[1])[:3]))
        return min(k, len(exact)), bad

    return contract


def _bpe_reference(word_counts: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str, int]]:
    """Plain-Python BPE over (word, count): frequency-weighted adjacent
    pair counts, ties broken by (count desc, left, right), and a greedy
    left-to-right merge in which a new symbol does not merge again in
    the same pass — the semantics of ``operators/bpe.py``."""
    vocab = [(list(w), c) for w, c in word_counts]
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab:
            for pair in zip(syms, syms[1:]):
                pairs[pair] += c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        merged_vocab = []
        for syms, c in vocab:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            merged_vocab.append((out, c))
        vocab = merged_vocab
    return merges


def _q114_bpe(rows: list[dict], con) -> tuple[int, list]:
    """The 8 learned merges equal the reference BPE over DuckDB's exact
    word counts, step for step."""
    words = con.sql(
        f"SELECT w, COUNT(*) FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents) GROUP BY w"
    ).fetchall()
    want = [(i + 1, a, b, a + b, c) for i, (a, b, c) in enumerate(_bpe_reference(words, 8))]
    got = sorted((r["step"], r["left"], r["right"], r["merged"], r["pair_count"]) for r in rows)
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    return len(want), bad


CONTRACTS: dict[str, tuple[tuple[str, ...], Any]] = {
    "q44_approx_percentiles": (("l_returnflag", "p25", "p50", "p75", "p95"), _q44_rank_error),
    "q45_approx_distinct": (("event_type", "dow", "n_events", "n_users", "sum_value"), _q45_cube_distinct),
    "q101_countmin_heavy_hitters": (
        ("tok", "est_count"),
        _countmin_top(f"SELECT unnest({_SQL_TOKS}) AS tok FROM documents", "tok", 20),
    ),
    "q105_stream_countmin": (
        ("user_id", "est_count"),
        _countmin_top("SELECT CAST(user_id AS VARCHAR) AS user_id FROM events", "user_id", 10),
    ),
    "q114_bpe_merges": (("step", "left", "right", "merged", "pair_count"), _q114_bpe),
}


def check_rows(name: str, cols: list[str], rows: list[tuple], con) -> dict:
    """``check`` on an already collected result (``cols``, ``rows``)."""
    if name in ORACLE:
        return {"check": "oracle", **_compare_rows(cols, rows, con, ORACLE[name])}
    want_cols, contract = CONTRACTS[name]
    if sorted(cols) == sorted(want_cols):
        n, bad = contract([dict(zip(cols, r)) for r in rows], con)
    else:
        n, bad = None, [("schema", sorted(cols))]
    result = {"check": "contract", **_shape_verdict(cols, rows, want_cols, n)}
    result["values_match"] = not bad
    if bad:
        result["first_diffs"] = bad[:5]
    result["ok"] = result["rows_match"] and result["schema_match"] and result["values_match"]
    return result


def check(name: str, df, con: duckdb.DuckDBPyConnection) -> dict:
    """The verdict for registered query ``name`` whose result is ``df``:
    the oracle hash compare when the query has oracle SQL, its contract
    otherwise.  ``ok`` is the pass/fail bit; a query with neither raises
    KeyError."""
    return check_rows(name, list(df.columns), [tuple(r) for r in df.collect()], con)
