"""Regenerate __spark_entry__._RISK_ORDER as a freshness order.

Usage: python scripts/gen_risk_order.py [--head q67,q69,...]
           [--rounds 1-10] [--write]

With the cumulative driver ledger closed (356/356 in round 9), the
window policy is freshness: --head lists the prefixes that must lead
(rows whose code this round touches, then rows under bench
adjudication); every remaining prefix follows ordered by the round of
its LAST driver check — computed from the CORRECTNESS_r*.json union —
oldest first, numeric order within a round.  Only registered prefixes
are ordered (an artifact may name a deleted query), and prefixes
without an oracle go last, after the head too: the driver can only
check their row count, so they would spend a window slot for little.

--rounds pins the inclusive round range the order is computed from
(default: every artifact present).  The committed order records its
provenance (`_RISK_ORDER_HEAD` / `_RISK_ORDER_SOURCE_ROUNDS` in
__spark_entry__.py, kept in sync by --write) so the regeneration pin
in tests/ replays the SAME inputs: the driver lands a new
CORRECTNESS_r{N}.json each round, and a pin that globs everything goes
stale the moment it does (r10 verdict item 1).

Prints the formatted list body; with --write, splices it into
__spark_entry__.py between the `_RISK_ORDER = [` line and its closing
`]` (preserving the comment block at the top of the list, i.e. any
leading lines that start with '#'), and rewrites the two provenance
lines.  Update the comment by hand — it explains the round's choice of
head, which a script cannot know.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def staleness_order(head: list[str], rounds=None) -> list[str]:
    """Freshness order from the CORRECTNESS_r*.json artifacts.

    ``rounds`` (iterable of ints, inclusive membership) pins which
    artifacts count; None means all present.  Artifacts are processed
    in NUMERIC round order (last write wins) — lexicographic glob
    order would misattribute once rounds reach three digits ('r100'
    sorts before 'r99'; r10 advice item 4).  Prefixes that name no
    registered query are skipped; oracle-less prefixes keep their
    relative order but follow every oracle-backed one."""
    from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES

    registered = {name.split("_", 1)[0] for name in QUERIES}
    checked = {name.split("_", 1)[0] for name in ORACLE}
    rounds = None if rounds is None else set(rounds)
    found: list[tuple[int, str]] = []
    for f in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        if rounds is None or rnd in rounds:
            found.append((rnd, f))
    last: dict[str, int] = {}
    for rnd, f in sorted(found):
        for name in json.load(open(f)):
            p = name.split("_", 1)[0]
            if p in registered:
                last[p] = rnd
    missing = [p for p in head if p not in last]
    if missing:
        raise SystemExit(
            f"--head prefixes not registered or in no CORRECTNESS artifact: {missing}"
        )
    rest = sorted(
        (p for p in last if p not in head),
        key=lambda p: (last[p], int(p[1:])),
    )
    order = head + rest
    return [p for p in order if p in checked] + [p for p in order if p not in checked]


def format_body(order: list[str]) -> str:
    lines = []
    for i in range(0, len(order), 8):
        lines.append("    " + ", ".join(f'"{p}"' for p in order[i : i + 8]) + ",")
    return "\n".join(lines)


USAGE = "usage: gen_risk_order.py [--head q1,q2,...] [--rounds LO-HI] [--write]"


def _flag_value(argv: list[str], i: int, flag: str) -> str:
    """argv[i+1], or exit with the usage string when the flag is the
    last argument (r11 advice item 4 — an unhandled IndexError is not
    a usage message)."""
    if i + 1 >= len(argv):
        raise SystemExit(f"{flag} requires a value\n{USAGE}")
    return argv[i + 1]


def main() -> int:
    head: list[str] = []
    rounds_span: tuple[int, int] | None = None
    write = "--write" in sys.argv
    for i, a in enumerate(sys.argv):
        if a == "--head":
            head = [
                p.strip()
                for p in _flag_value(sys.argv, i, "--head").split(",")
                if p.strip()
            ]
        if a == "--rounds":
            lo, hi = _flag_value(sys.argv, i, "--rounds").split("-")
            rounds_span = (int(lo), int(hi))
    rounds = None if rounds_span is None else range(rounds_span[0], rounds_span[1] + 1)
    order = staleness_order(head, rounds=rounds)
    body = format_body(order)
    if not write:
        print(body)
        return 0
    if rounds_span is None:
        raise SystemExit("--write requires --rounds lo-hi (the provenance to record)")
    path = os.path.join(ROOT, "__spark_entry__.py")
    src = open(path).read()
    # keep the provenance lines in sync with the list they describe
    src = re.sub(
        r"_RISK_ORDER_HEAD: list\[str\] = \[.*?\]",
        "_RISK_ORDER_HEAD: list[str] = [" + ", ".join(f'"{p}"' for p in head) + "]",
        src,
        count=1,
    )
    src = re.sub(
        r"_RISK_ORDER_SOURCE_ROUNDS = \(\d+, \d+\)",
        f"_RISK_ORDER_SOURCE_ROUNDS = ({rounds_span[0]}, {rounds_span[1]})",
        src,
        count=1,
    )
    start = src.index("_RISK_ORDER = [")
    end = src.index("\n]", start)
    block = src[start:end]
    # keep the leading comment lines of the existing list
    kept = ["_RISK_ORDER = ["]
    for line in block.splitlines()[1:]:
        if line.lstrip().startswith("#"):
            kept.append(line)
        else:
            break
    new = "\n".join(kept) + "\n" + body
    out = src[:start] + new + src[end:]
    # validate BEFORE touching disk (r11 advice item 2: validating the
    # already-written file leaves the module mutated when the check
    # fails): exec the regenerated source in a scratch namespace and
    # require it to still register every query, then write via a temp
    # file + atomic rename so a crash mid-write can't truncate it
    ns: dict = {"__file__": path, "__name__": "__spark_entry_candidate__"}
    exec(compile(out, path, "exec"), ns)
    q = ns["queries"]()
    assert len(q) == len(order), (len(q), len(order))
    tmp = path + ".tmp"
    open(tmp, "w").write(out)
    os.replace(tmp, path)
    print(f"wrote {len(order)} prefixes; head: {order[:max(len(head), 6)]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
