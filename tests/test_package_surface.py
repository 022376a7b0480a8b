"""Regrowth guard: every public top-level function and class in the
package is used by something that runs.

"Used" means referenced as a Python name (a load of the name, or an
attribute of that name) in the package itself, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` or ``scripts/``.  Mentions in docstrings
and comments do not count, nor do re-exports (an import alone runs
nothing), nor do the tests.  A query registered through
``@register(...)`` is used: the registry runs it.

A public helper that only tests call is surface nobody needs: give it
a caller (a registered query, the CLI, the benchmark) or delete it.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "real_time_stream_processing_engine_spark")

# Kept although only tests call them.  Parity surfaces that COVERAGE.md
# maps to a reference capability:
KEEP = {
    # E1: the reference's demo input, read with its CSV quoting
    "read_traffic_signs_csv",
    # E3: the sinks (results with provenance, training shards)
    "write_results_with_provenance",
    "write_training_shards",
    # HyDFS verbs (create; the bucketed create is its scale form)
    "create",
    "create_bucketed",
    # the continuous TCP tuple flow: live sources + a non-draining run
    "stream_rate",
    "stream_socket",
    "run_continuous",
    # codec encoders: the decoders' round-trip partners in the codec tests
    "encode_ppm",
    "encode_wav",
}


def _py_files(root: str) -> list[str]:
    if root.endswith(".py"):
        return [root]
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _referenced_names() -> set[str]:
    roots = [PKG] + [
        os.path.join(REPO, p)
        for p in ("__spark_entry__.py", "bench.py", "perfbench", "scripts")
    ]
    names: set[str] = set()
    for root in roots:
        for path in _py_files(root):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
    return names


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(node, "decorator_list", [])
    )


def _public_defs() -> list[tuple[str, int, str]]:
    out = []
    for path in _py_files(PKG):
        for node in _parse(path).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not _registered(node)
            ):
                out.append((os.path.relpath(path, REPO), node.lineno, node.name))
    return out


def test_every_public_definition_has_a_caller_that_runs():
    used = _referenced_names()
    unused = [
        f"{path}:{line} {name}"
        for path, line, name in _public_defs()
        if name not in used and name not in KEEP
    ]
    assert not unused, "public definitions only tests call:\n" + "\n".join(unused)


def test_keep_list_is_not_stale():
    # an entry whose definition is gone would quietly exempt a future
    # helper of the same name; one that gained a caller needs no entry
    defined = {name for _, _, name in _public_defs()}
    assert KEEP - defined == set()
    assert KEEP & _referenced_names() == set()
