"""Interactive front door — ``python -m real_time_stream_processing_engine_spark``.

The reference's only user interface is its interactive prompt
(``RainStorm.java:879-922``: prompt for two operations, validate, submit
``RAINSTORM <op1> <op2> <file> <numTasks>``), plus the HyDFS verbs its
node command loop accepts.  This REPL is that surface over Spark:

    RAINSTORM "FILTER:error" "TRANSFORM:uppercase" /path/file.txt 4
    ls /path/dir
    merge /path/dir
    help / exit

Unlike the reference it takes the whole pipeline on ONE line (no
two-step prompt; any number of operators, ``parser.py`` generalizes the
grammar) and prints results to stdout instead of appending them to a
leader-side log file.  One-shot mode: pass the command as argv, e.g.
``python -m real_time_stream_processing_engine_spark 'RAINSTORM ... file 4'``.
"""

from __future__ import annotations

import sys
from typing import Literal

Outcome = Literal["ok", "error", "exit"]

HELP = """\
Commands:
  RAINSTORM <op1> [... opN] <file> <numTasks>   run a pipeline, print rows
      ops: FILTER:<pat>  COLUMN_FILTER:<col>:<val>
           TRANSFORM:uppercase|lowercase|trim|splitintowords
           TRANSFORM:select:<c1,c2>  FILTERED_TRANSFORM:<pat>:<transform>
           AGGREGATE[:<count|sum|max|min|avg>:<field>[:by=<k1,k2>]]
  sql <query>          ANSI SQL over the registered tables (region nation
                       customer supplier part orders lineitem events
                       documents embeddings) — auto-registered from
                       $SPARK_GRAFT_SF_DIR on first use
  use <sf_dir>         (re)register the tables from another data dir
  ls <path>            list files (HyDFS ls parity)
  merge <path>         compact small append files (HyDFS merge parity)
  help                 this text
  exit | quit          leave
"""

MAX_PRINT_ROWS = 20


def _arg(line: str, usage: str) -> str:
    """The command's argument, or a USAGE error instead of the baffling
    'error: list index out of range' a bare `ls`/`merge`/`sql`/`use`
    used to print (r5 review catch)."""
    parts = line.split(None, 1)
    if len(parts) < 2 or not parts[1].strip():
        raise ValueError(f"usage: {usage}")
    return parts[1]


def _print_df(df, out) -> None:
    rows = df.limit(MAX_PRINT_ROWS + 1).collect()
    cols = df.columns
    print("\t".join(cols), file=out)
    for r in rows[:MAX_PRINT_ROWS]:
        print("\t".join(str(r[c]) for c in cols), file=out)
    if len(rows) > MAX_PRINT_ROWS:
        print(f"... (showing first {MAX_PRINT_ROWS})", file=out)


def _ensure_tables(spark, out) -> None:
    """Register the testdata tables unless the session already has them
    (from an earlier ``sql`` or ``use``); the session catalog is the
    one record of what is registered."""
    import os

    from . import TABLES
    from .sources.readers import register_tables

    if any(spark.catalog.tableExists(t) for t in TABLES):
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    names = register_tables(spark, sf_dir)
    print(f"registered {len(names)} tables from {sf_dir}", file=out)


def _dispatch(spark, line: str, out=sys.stdout) -> Outcome:
    """Execute one REPL line and say how it went: ``"exit"`` ends the
    loop, ``"error"`` makes one-shot mode exit non-zero (the REPL itself
    always continues), ``"ok"`` otherwise."""
    from .operators.parser import run_command
    from .sources import catalog

    line = line.strip()
    if not line:
        return "ok"
    word = line.split(None, 1)[0].lower()
    if word in ("exit", "quit"):
        return "exit"
    if word == "help":
        print(HELP, file=out)
        return "ok"
    try:
        if word == "ls":
            for e in catalog.ls(spark, _arg(line, "ls <path>")):
                kind = "dir " if e["is_dir"] else "file"
                print(f"{kind} {e['bytes']:>12} {e['path']}", file=out)
            return "ok"
        if word == "merge":
            catalog.merge(spark, _arg(line, "merge <path>"))
            print("merged", file=out)
            return "ok"
        if word == "rainstorm":
            _print_df(run_command(spark, line), out)
            return "ok"
        if word == "sql":
            query = _arg(line, "sql <query>")
            _ensure_tables(spark, out)
            _print_df(spark.sql(query), out)
            return "ok"
        if word == "use":
            from .sources.readers import register_tables

            names = register_tables(spark, _arg(line, "use <sf_dir>"))
            print(f"registered {len(names)} tables", file=out)
            return "ok"
        print(f"unknown command {word!r} — try 'help'", file=out)
    except Exception as e:  # the REPL survives bad input, like the reference's
        print(f"error: {e}", file=out)
    return "error"


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    from .session import get_spark

    spark = get_spark(app_name="rainstorm-repl")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if argv:  # one-shot: command given on the command line
            return 1 if _dispatch(spark, " ".join(argv)) == "error" else 0
        print("RainStorm-on-Spark REPL — 'help' for commands", file=sys.stderr)
        while True:
            try:
                line = input("rainstorm> ")
            except EOFError:
                break
            if _dispatch(spark, line) == "exit":
                break
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
