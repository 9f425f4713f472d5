"""Caller census: every top-level function or class under `headson_spark/`
is named somewhere in the caller set (the library itself, the Spark entry
point, the scripts and the benchmarks), outside its own definition.

Tests are not callers: a definition that only tests reach is a capability
nothing uses, and is deleted rather than kept. A name counts when it
appears as a `Name`, an `Attribute` or an imported name (`from m import f`
and `from m import f as g` both count `f`). Only `ast` is used; no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = ROOT / "headson_spark"
CALLER_SET = [LIBRARY, ROOT / "__spark_entry__.py", ROOT / "scripts",
              ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "perfbench"]

# Definitions kept although only tests call them, each with its reason.
ALLOWLIST = {
    "rolling_previews": "the tumbling and sliding window previews the "
                        "streaming engine's spec names",
    "clear_plan_cache": "resets the cached plan choice between tests that "
                        "run different plans in one session",
    "graphemes": "the grapheme-cluster oracle the kernel tests compare "
                 "truncation against",
    "take_n_graphemes": "the truncation oracle the kernel tests compare "
                        "against",
    "count_exchanges": "plan inspection helper the plan-shape tests share",
    "has_broadcast_join": "plan inspection helper the plan-shape tests "
                          "share",
}


def _py_files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Import):
            for a in n.names:
                out.update(a.name.split("."))
    return out


def _census():
    """(definitions, references): definitions maps (path, name) to the
    top-level statement that defines it; references lists, for every
    top-level statement in the caller set, (path, statement, names)."""
    defs, refs = {}, []
    for path in _py_files(CALLER_SET):
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            refs.append((path, stmt, _names(stmt)))
            if path.is_relative_to(LIBRARY) and isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                           ast.ClassDef)):
                defs[(path, stmt.name)] = stmt
    return defs, refs


def uncalled_definitions() -> list[str]:
    defs, refs = _census()
    out = []
    for (path, name), stmt in defs.items():
        if any(name in names for _, s, names in refs if s is not stmt):
            continue
        out.append(f"{path.relative_to(ROOT)}:{stmt.lineno} {name}")
    return sorted(out)


def test_every_definition_has_a_caller():
    missing = [d for d in uncalled_definitions()
               if d.rsplit(" ", 1)[1] not in ALLOWLIST]
    assert not missing, (
        "defined under headson_spark/ but named nowhere in the caller set "
        "(delete it, or add it to ALLOWLIST with a reason): "
        + ", ".join(missing))


def test_allowlisted_names_are_defined():
    defined = {name for _, name in _census()[0]}
    gone = sorted(set(ALLOWLIST) - defined)
    assert not gone, f"allowlisted but no longer defined: {gone}"
