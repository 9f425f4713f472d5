"""Caller census: every top-level function or class under `headson_spark/`
is named somewhere in the caller set (the library itself, the Spark entry
point, the scripts and the benchmarks), outside its own definition, and
every parameter with a default is set by some call in that set, and
no parameter is given one and the same literal by every call in it.

Tests are not callers: a definition that only tests reach is a capability
nothing uses, and is deleted rather than kept. A name counts when it
appears as a `Name`, an `Attribute` or an imported name (`from m import f`
and `from m import f as g` both count `f`). A parameter that no caller
sets, or that every call gives the same literal (an omitted argument
giving its default), has one value in use, so it is a constant rather
than an option.
Only `ast` is used; no Spark.
"""

from __future__ import annotations

import ast
import functools
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

# Parameters named after the reference binding's preview arguments
# (`summarize(text, *, format, style, input_format, character_budget,
# skew)` and the CLI's string cap and per-input budget): every preview
# entry point takes them, whatever its callers pass.
REFERENCE_ARGS = {"budget", "character_budget", "style", "skew", "format",
                  "fmt", "input_format", "string_cap", "per_input_budget"}

# (function, parameter) pairs kept although no call in the caller set
# passes them, each with its reason. The parameters of a function on
# ALLOWLIST are exempt too: only tests call it.
PARAM_ALLOWLIST = {
    ("ensure_transcripts", "base_dir"): "a path, a deployment setting",
}

# (function, parameter) pairs kept although every call in the caller set
# gives them the same literal, each with its reason.
LITERAL_ALLOWLIST = {
    ("build_order", "lazy"):
        "perfbench/tracing.py passes it, and perfbench/ is the "
        "benchmark's own code",
    ("top_terms", "k"):
        "a registry size the top_terms oracle SQL shares",
    ("embedding_near_dup_pairs", "threshold"):
        "a registry size the emb_near_dup oracle SQL shares",
    ("embedding_near_dup_pairs", "n_bands"):
        "a registry size the emb_near_dup oracle SQL shares",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


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


@functools.cache
def _trees() -> list:
    """(path, parsed module) for every file in the caller set."""
    return [(path, ast.parse(path.read_text(), filename=str(path)))
            for path in _py_files(CALLER_SET)]


def _census():
    """(definitions, references): definitions maps (path, name) to the
    top-level statement that defines it; references lists, for every
    top-level statement in the caller set, (path, statement, names)."""
    defs, refs = {}, []
    for path, tree in _trees():
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


def _library_functions():
    """(path, name, def, is_method) for every def at module level, or
    directly inside a module-level class, under headson_spark/.
    `__init__` and `__new__` count under the class name."""
    for path, tree in _trees():
        if not path.is_relative_to(LIBRARY):
            continue
        for stmt in tree.body:
            if isinstance(stmt, _FUNCS):
                yield path, stmt.name, stmt, False
            elif isinstance(stmt, ast.ClassDef):
                for m in stmt.body:
                    if isinstance(m, _FUNCS):
                        static = any(isinstance(d, ast.Name)
                                     and d.id == "staticmethod"
                                     for d in m.decorator_list)
                        name = (stmt.name if m.name in ("__init__",
                                                        "__new__")
                                else m.name)
                        yield path, name, m, not static


def _parameters(fn, is_method: bool):
    """(position, name, default node or None) of each named parameter of
    `fn`; a keyword-only one has no position, and a method's positions
    start after self."""
    a = fn.args
    pos = (a.posonlyargs + a.args)[1 if is_method else 0:]
    defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
    return ([(i, p.arg, d) for i, (p, d) in enumerate(zip(pos, defaults))]
            + [(None, p.arg, d)
               for p, d in zip(a.kwonlyargs, a.kw_defaults)])


def _calls() -> dict[str, list]:
    """Called name (a `Name`, or an `Attribute`'s attr) -> every call in
    the caller set that names it."""
    out: dict[str, list] = {}
    for _, tree in _trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(
                    f, "attr", None)
                if name:
                    out.setdefault(name, []).append(n)
    return out


def _sets(call, position: int | None, param: str) -> bool:
    """True when `call` passes `param`: by keyword, by position, or
    through `*args` / `**kwargs`."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    return position is not None and (
        len(call.args) > position
        or any(isinstance(x, ast.Starred) for x in call.args))


def defaulted_parameters() -> list[tuple[str, str, int | None, str]]:
    """(location, function, position, parameter) for every parameter
    with a default, over the census's functions."""
    return [(f"{path.relative_to(ROOT)}:{fn.lineno}", name, i, p)
            for path, name, fn, is_method in _library_functions()
            for i, p, d in _parameters(fn, is_method) if d is not None]


def unset_parameters() -> list[str]:
    calls = _calls()
    out = []
    for loc, name, i, p in defaulted_parameters():
        if (p in REFERENCE_ARGS or name in ALLOWLIST
                or (name, p) in PARAM_ALLOWLIST):
            continue
        if not any(_sets(c, i, p) for c in calls.get(name, ())):
            out.append(f"{loc} {name}({p})")
    return sorted(out)


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = unset_parameters()
    assert not unset, (
        "parameters with a default that no call in the caller set passes "
        "(make each a constant, or add it to PARAM_ALLOWLIST with a "
        "reason): " + ", ".join(unset))


def test_allowlisted_parameters_exist():
    have = {(name, p) for _, name, _, p in defaulted_parameters()}
    gone = sorted(set(PARAM_ALLOWLIST) - have)
    assert not gone, f"allowlisted but no longer a defaulted parameter: {gone}"


def _literal(node):
    """A hashable form of `node` when it is a literal, else None."""
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError,
            RecursionError):
        return None
    return (type(value).__name__, repr(value))


def _given(call, position: int | None, param: str, default):
    """The literal `call` gives `param`, or None when it gives a
    non-literal, passes `*args` / `**kwargs`, or omits a parameter
    without a literal default."""
    if any(isinstance(x, ast.Starred) for x in call.args) or any(
            k.arg is None for k in call.keywords):
        return None
    for k in call.keywords:
        if k.arg == param:
            return _literal(k.value)
    if position is not None and len(call.args) > position:
        return _literal(call.args[position])
    return None if default is None else _literal(default)


def one_literal_parameters() -> list[str]:
    calls = _calls()
    out = []
    for path, name, fn, is_method in _library_functions():
        if name in ALLOWLIST:
            continue
        for i, p, default in _parameters(fn, is_method):
            if (p in REFERENCE_ARGS or (name, p) in PARAM_ALLOWLIST
                    or (name, p) in LITERAL_ALLOWLIST):
                continue
            given = {_given(c, i, p, default) for c in calls.get(name, ())}
            if len(given) == 1 and None not in given:
                out.append(f"{path.relative_to(ROOT)}:{fn.lineno} "
                           f"{name}({p})")
    return sorted(out)


def test_no_parameter_has_one_literal_in_use():
    one = one_literal_parameters()
    assert not one, (
        "parameters every call in the caller set gives the same literal "
        "(make each a constant, or add it to LITERAL_ALLOWLIST with a "
        "reason): " + ", ".join(one))


def test_literal_allowlisted_parameters_exist():
    have = {(name, p) for _, name, fn, is_method in _library_functions()
            for _, p, _ in _parameters(fn, is_method)}
    gone = sorted(set(LITERAL_ALLOWLIST) - have)
    assert not gone, f"allowlisted but no longer a parameter: {gone}"
