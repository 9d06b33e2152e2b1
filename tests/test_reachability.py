"""Reachability guards over the package's top-level definitions.

Definitions: every top-level function and class in the package must be
reachable, by name, from a product root. Roots: the CLI
(``mbta_etl_spark/cli.py``), the batch pipeline (``pipeline/etl.py``),
the registry (``queries()`` / ``oracle_sql()``, whose oracle tables name
every entry), ``bench.py``, ``__spark_entry__.py``, ``scripts/`` and
``perfbench/`` (its tests aside). A definition is reached when its name
appears as an identifier in the code of a root or of a reached
definition: a name, an attribute, an imported name or its alias, or a
string constant that is an identifier (the registry's ``_ORACLES`` keys
name their builders). Docstrings and comments are not code and reach
nothing. Module-level statements that define nothing (imports, the
registry's ``_ORACLES[...] = ...`` rows) are root code of their module.
``__init__`` re-exports and ``tests/`` are not callers. The walk is
name-level, so two definitions sharing a name reach each other.

Parameters: every optional parameter of a top-level package function
must be passed, by keyword or position, by some call in the package,
the other product roots or ``tests/``. A parameter no call passes has
one value in use: fold its default into the body. Calls match by name
as the walk does (``f(...)`` and ``mod.f(...)``), ``from m import f as
g`` aliases resolve to ``f``, and a call with ``*args`` or ``**kwargs``
counts as passing every parameter.

Both guards parse source only and start no Spark session.
"""

from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "mbta_etl_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

ROOT_MODULES = {"cli.py", "pipeline/etl.py"}
ROOT_NAMES = {"queries", "oracle_sql"}

# Unreached today, kept on purpose: the continuous form of the paper's
# ingest loop, which becomes a measured product path in ROADMAP item 6.
ALLOWED = {
    "mbta_etl_spark.streaming.ingest.run_upsert_stream",  # ROADMAP item 6
    "mbta_etl_spark.streaming.ingest.stream_vehicle_snapshots",  # ROADMAP item 6
}


def _package_modules() -> Iterator[tuple[str, str, ast.Module]]:
    """(path relative to the package, dotted module name, parsed tree)
    for every package module but the ``__init__`` re-exports."""
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        rel = path.relative_to(PKG).as_posix()
        module = "mbta_etl_spark." + rel[: -len(".py")].replace("/", ".")
        yield rel, module, ast.parse(path.read_text())


def _root_scripts() -> list[Path]:
    scripts = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    scripts += sorted((REPO / "scripts").glob("*.py"))
    scripts += [p for p in sorted((REPO / "perfbench").glob("*.py"))
                if not p.name.startswith("test_")]
    return scripts


def _identifiers(node: ast.AST) -> set[str]:
    """The identifiers ``node``'s code uses. A string statement (a
    docstring) is not code, so its text reaches nothing."""
    docstrings = {
        id(n.value) for n in ast.walk(node)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier() and id(n) not in docstrings):
            out.add(n.value)
    return out


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, DEFS):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def unreachable_definitions() -> list[str]:
    """Qualified names of the package's top-level functions and classes
    that no product root reaches."""
    defs: dict[str, list[tuple[str, bool, set[str]]]] = {}
    roots = set(ROOT_NAMES)
    for rel, module, tree in _package_modules():
        for node in tree.body:
            idents = _identifiers(node)
            names = _defined_names(node)
            if not names or rel in ROOT_MODULES:
                roots |= idents
            for name in names:
                defs.setdefault(name, []).append(
                    (f"{module}.{name}", isinstance(node, DEFS), idents)
                )
    for path in _root_scripts():
        roots |= _identifiers(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, _, idents in defs[name]:
            todo.extend(n for n in idents if n in defs and n not in reached)
    return sorted(
        qualname
        for name, entries in defs.items() if name not in reached
        for qualname, is_def, _ in entries if is_def
    )


def unpassed_parameters() -> list[str]:
    """``module.function.parameter`` for every optional parameter of a
    top-level package function that no call passes."""
    optional: dict[str, list[tuple[str, list[str], list[str]]]] = {}
    for _, module, tree in _package_modules():
        for node in tree.body:
            if not isinstance(node, FUNCS):
                continue
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            names = positional[len(positional) - len(a.defaults):]
            names += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                      if d is not None]
            if names:
                optional.setdefault(node.name, []).append(
                    (f"{module}.{node.name}", positional, names)
                )

    callers = sorted(PKG.rglob("*.py")) + _root_scripts()
    callers += sorted((REPO / "tests").glob("*.py"))
    callers += sorted((REPO / "perfbench").glob("test_*.py"))
    passed: dict[str, set[str]] = {}
    every: set[str] = set()
    for path in callers:
        tree = ast.parse(path.read_text())
        aliases = {
            a.asname: a.name for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) for a in n.names if a.asname
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            name = aliases.get(name, name)
            if name not in optional:
                continue
            if any(isinstance(x, ast.Starred) for x in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                every.add(name)
            got = passed.setdefault(name, set())
            got.update(k.arg for k in call.keywords)
            for _, positional, _ in optional[name]:
                got.update(positional[: len(call.args)])
    return sorted(
        f"{qualname}.{p}"
        for name, entries in optional.items() if name not in every
        for qualname, _, names in entries
        for p in names if p not in passed.get(name, set())
    )


def test_every_package_definition_is_reachable_from_a_product_root():
    dead = set(unreachable_definitions())
    assert not dead - ALLOWED, (
        "reached by no product root (delete it with its tests, or give it "
        f"a product caller): {sorted(dead - ALLOWED)}"
    )
    assert not ALLOWED - dead, (
        f"allow-list entries now reached or gone: {sorted(ALLOWED - dead)}"
    )


def test_every_optional_parameter_is_passed_by_some_call():
    unpassed = unpassed_parameters()
    assert not unpassed, (
        "optional parameters no call passes (fold the default into the "
        f"body, or give the parameter a caller): {unpassed}"
    )
