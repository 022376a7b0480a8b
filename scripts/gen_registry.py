"""Generate REGISTRY.md — the machine-checked claims table.

One row per ``queries()`` entry, derived FROM the registry itself (not
hand-maintained prose, which drifts): the implementing function's
file:line, whether a DuckDB oracle backs it (hash-checked) or a stated
contract checked against DuckDB's exact answer (``tests/oracle.CONTRACTS``),
which operator/streaming modules the implementation pulls in, which
test files mention it, and its status in the committed
CORRECTNESS_LOCAL.json artifact (written by ``scripts/correctness.py``).

The script asserts its own counts against the registry before writing,
so a stale or padded table cannot be committed by accident:

    python scripts/gen_registry.py        # writes REGISTRY.md
"""

from __future__ import annotations

import inspect
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _impl_site(fn) -> str:
    src = inspect.unwrap(fn)
    path = os.path.relpath(inspect.getsourcefile(src), REPO)
    _, line = inspect.getsourcelines(src)
    return f"{path}:{line}"


def _modules_used(fn) -> list[str]:
    """Operator/engine modules the implementation imports (static)."""
    try:
        src = inspect.getsource(inspect.unwrap(fn))
    except OSError:
        return []
    mods = set()
    for m in re.finditer(r"from \.(operators|streaming|sources|sinks)\.(\w+) import", src):
        mods.add(f"{m.group(1)}.{m.group(2)}")
    for m in re.finditer(r"from \.\.(operators|sources|sinks)\.(\w+) import", src):
        mods.add(f"{m.group(1)}.{m.group(2)}")
    return sorted(mods)


def _test_index() -> dict[str, set[str]]:
    """query prefix (q123) -> test files that mention it."""
    idx: dict[str, set[str]] = {}
    tdir = os.path.join(REPO, "tests")
    for fname in sorted(os.listdir(tdir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(tdir, fname)) as f:
            text = f.read()
        # a mention is qNN/qNNN followed by anything that is not
        # another digit (underscore continues a full query name;
        # quotes, slashes, spaces, parens, EOL all count as bare
        # mentions) — NOTE: \b inside a character class is a literal
        # backspace, the bug this comment guards against
        for prefix in set(re.findall(r"\bq\d{2,3}(?=[^\d]|$)", text)):
            idx.setdefault(prefix, set()).add(fname)
    return idx


def main() -> int:
    import __spark_entry__ as mod
    from tests.oracle import CONTRACTS

    qs, osql = mod.queries(), mod.oracle_sql()
    with open(os.path.join(REPO, "CORRECTNESS_LOCAL.json")) as f:
        local = json.load(f)
    tidx = _test_index()

    rows = []
    n_oracle = n_contract = n_green = 0
    for name, fn in sorted(qs.items()):
        prefix = name.split("_", 1)[0]
        kind = "oracle" if name in osql else "contract"
        n_oracle += kind == "oracle"
        n_contract += kind == "contract"
        rec = local.get(name, {})
        # green: the check passed and both partitionings agreed
        green = rec.get("check") == kind and bool(rec.get("ok")) and bool(rec.get("deterministic"))
        status = ("hash-green" if kind == "oracle" else "contract-green") if green else "RED"
        n_green += green
        tests = ", ".join(sorted(tidx.get(prefix, ()))[:3]) or "—"
        mods = ", ".join(_modules_used(fn)) or "inline DF plan"
        rows.append(
            f"| {name} | `{_impl_site(fn)}` | {kind} | {status} | "
            f"{mods} | {tests} |"
        )

    assert len(rows) == len(qs), (len(rows), len(qs))
    assert n_oracle == len(osql)
    assert n_contract == len(CONTRACTS)
    assert n_oracle + n_contract == len(qs)

    out = [
        "# REGISTRY — generated claims table",
        "",
        "Generated by `scripts/gen_registry.py` FROM `__spark_entry__.queries()`",
        "— regenerate after any registry change; the script asserts its counts",
        "against the live registry, so this table cannot drift silently.",
        "",
        f"- **queries:** {len(qs)}",
        f"- **oracle-backed (hash-checked vs DuckDB):** {n_oracle}",
        f"- **contracts (bounds checked against DuckDB's exact answer):** {n_contract}",
        "- **rows-only:** 0",
        f"- **green in CORRECTNESS_LOCAL.json:** {n_green} / {len(qs)}",
        "",
        "| query | impl | check | local status | modules | tests (≤3) |",
        "|---|---|---|---|---|---|",
        *rows,
        "",
    ]
    with open(os.path.join(REPO, "REGISTRY.md"), "w") as f:
        f.write("\n".join(out))
    print(
        f"REGISTRY.md: {len(rows)} rows, {n_oracle} oracle, "
        f"{n_contract} contract, {n_green} green"
    )
    return 0 if n_green == len(qs) else 1


if __name__ == "__main__":
    sys.exit(main())
