"""Regenerate ``expected.json``: the row count and checksum of every
pipelines op's output on the benchmark's generated data.

Each query is first confirmed against its DuckDB oracle with the test
suite's comparison (``tests/oracle.compare``); a query without an oracle
is stored for a row-count check only.  Nothing is written if any oracle
disagrees.  Run from the repository root:

    python3 perfbench/gen_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
import ops  # noqa: E402
from run import WORK, Session, prepare_env  # noqa: E402
from tests import oracle  # noqa: E402


def main() -> int:
    from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES

    sf = ops.SF
    data_dir = datagen.ensure(sf, os.path.join(WORK, "data"))
    prepare_env()
    session = Session("pipelines", False, 0.0, lambda spark: None)
    con = oracle.duck_connection(data_dir)
    out: dict[str, dict] = {}
    bad = []
    try:
        for name in ops.OPS:
            df = QUERIES[name](session.spark, data_dir)
            if name in ORACLE:
                r = oracle.compare(df, con, ORACLE[name])
                if not r["ok"]:
                    bad.append(name)
                    print(f"{name}: oracle mismatch {r}", file=sys.stderr)
                    continue
            got = ops.materialize(df, f"exp_{name}")
            if ops.rows_only(name):
                got = {"rows": got["rows"]}
            out.setdefault(f"sf{sf}", {})[name] = got
            print(f"{name}: {got}", file=sys.stderr)
    finally:
        session.close()
    if bad:
        print(f"not written: oracle mismatches {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
