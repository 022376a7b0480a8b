"""Check registered queries against their DuckDB oracle or contract, and
check that their results do not depend on the shuffle partitioning:

    python scripts/correctness.py [--sf DIR] [prefix ...]

Each selected query (all of them, or those whose prefix such as ``q56``
is named) is built and collected twice in one session, at
spark.sql.shuffle.partitions=32 and then 5.  The first result goes
through ``tests/oracle.check`` (hash compare, or the query's contract);
the canonical rows of the two runs must be equal.  A mismatch there
means the result depends on the physical partitioning (an under-ordered
LIMIT, a rank tie broken by task order, a float aggregate surfacing
reassociation past its rounding), which a check at one fixed config
never sees.

A full run (no prefixes) over sf0.01 or sf0.1 writes CORRECTNESS_LOCAL.json
or CORRECTNESS_LOCAL_SF01.json at the repo root, with the ``rs_*``
entries it left under the scratch root in ``_meta.leaked_scratch``; the
sf0.01 run then regenerates REGISTRY.md.  Exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARTIFACTS = {"sf0.01": "CORRECTNESS_LOCAL.json", "sf0.1": "CORRECTNESS_LOCAL_SF01.json"}
PARTITIONS = (32, 5)


def _canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """The oracle's canonical rows, with -0.0 folded into 0.0 first (the
    canonical sort keys on str, which would split them)."""
    from tests.oracle import canonical_rows

    return canonical_rows(
        cols, [tuple(0.0 if isinstance(v, float) and v == 0.0 else v for v in r) for r in rows]
    )


def _run(spark, con, name: str, fn, sf_dir: str) -> dict:
    from tests.oracle import check_rows

    try:
        runs = []
        for n in PARTITIONS:
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            df = fn(spark, sf_dir)
            runs.append((list(df.columns), [tuple(r) for r in df.collect()]))
        v = check_rows(name, *runs[0], con)
        return {
            "check": v["check"],
            "ok": v["ok"],
            "rows_match": v["rows_match"],
            "schema_match": v["schema_match"],
            "hash_match": v["values_match"] if v["check"] == "oracle" else None,
            "spark_rows": v["rows_spark"],
            "oracle_rows": v["rows_oracle"],
            "err": None if v["ok"] else str(v.get("first_diffs"))[:300],
            "deterministic": _canon(*runs[0]) == _canon(*runs[1]),
        }
    except Exception as e:  # record, keep going
        return {"ok": False, "deterministic": False, "err": f"{type(e).__name__}: {e}"[:300]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="dataset dir")
    ap.add_argument("prefixes", nargs="*", help="query prefixes, e.g. q56 (default: all)")
    args = ap.parse_args()

    import __spark_entry__ as mod
    from real_time_stream_processing_engine_spark.session import get_spark
    from real_time_stream_processing_engine_spark.streaming.runner import _scratch_dir
    from tests.oracle import duck_connection

    qs = mod.queries()
    names = [n for n in qs if not args.prefixes or n.split("_", 1)[0] in args.prefixes]
    scratch = os.path.join(_scratch_dir(), "rs_*")
    before = set(glob.glob(scratch))
    spark = get_spark(
        app_name="rs-correctness",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(args.sf)
    out: dict[str, dict] = {}
    t0 = time.time()
    for name in names:
        t1 = time.time()
        rec = out[name] = _run(spark, con, name, qs[name], args.sf)
        verdict = "ok" if rec["ok"] and rec["deterministic"] else "FAIL"
        print(
            f"# {name}: {verdict} check={rec.get('check')} rows={rec.get('spark_rows')}/"
            f"{rec.get('oracle_rows')} deterministic={rec['deterministic']} "
            f"({time.time() - t1:.1f}s){'' if rec['ok'] else ' ' + str(rec['err'])}",
            file=sys.stderr,
        )
    spark.stop()
    n_fail = sum(not (r["ok"] and r["deterministic"]) for r in out.values())
    meta = {
        "sf_dir": args.sf,
        "configs": list(PARTITIONS),
        "n_queries": len(out),
        "n_ok": sum(r["ok"] for r in out.values()),
        "n_nondeterministic": sum(not r["deterministic"] for r in out.values()),
        "n_fail": n_fail,
        "wall_sec": round(time.time() - t0, 1),
        "leaked_scratch": sorted(os.path.basename(p) for p in set(glob.glob(scratch)) - before),
    }
    print(json.dumps(meta))
    dest = ARTIFACTS.get(os.path.basename(os.path.normpath(args.sf)))
    if not args.prefixes and dest:
        with open(os.path.join(REPO, dest), "w") as f:
            json.dump({"_meta": meta, **out}, f, indent=2)
        if dest == ARTIFACTS["sf0.01"]:
            # keep the generated claims table in lockstep with this artifact
            subprocess.run([sys.executable, os.path.join(REPO, "scripts", "gen_registry.py")], check=False)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
