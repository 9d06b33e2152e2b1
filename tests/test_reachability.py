"""Reachability guard: every top-level function and class in the package
must be reachable, by name, from a product root.

Roots: the CLI (``mbta_etl_spark/cli.py``), the batch pipeline
(``pipeline/etl.py``), the registry (``queries()`` / ``oracle_sql()``,
whose oracle tables name every entry), ``bench.py``,
``__spark_entry__.py``, ``scripts/`` and ``perfbench/`` (its tests
aside). A definition is reached when its name appears as an identifier in
the source of a root or of a reached definition. Module-level statements
that define nothing (imports, the registry's ``_ORACLES[...] = ...``
rows) are root source of their module. ``__init__`` re-exports and
``tests/`` are not callers. The walk is name-level, so two definitions
sharing a name reach each other; it parses source only and starts no
Spark session.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "mbta_etl_spark"
IDENT = re.compile(r"[A-Za-z_]\w*")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

ROOT_MODULES = {"cli.py", "pipeline/etl.py"}
ROOT_NAMES = {"queries", "oracle_sql"}

# Unreached today, kept on purpose: the continuous form of the paper's
# ingest loop, which becomes a measured product path in ROADMAP item 6.
ALLOWED = {
    "mbta_etl_spark.streaming.ingest.run_upsert_stream",  # ROADMAP item 6
    "mbta_etl_spark.streaming.ingest.stream_vehicle_snapshots",  # ROADMAP item 6
}


def _identifiers(lines: list[str], node: ast.stmt) -> set[str]:
    first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
    return set(IDENT.findall("\n".join(lines[first - 1 : node.end_lineno])))


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
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        rel = path.relative_to(PKG).as_posix()
        module = "mbta_etl_spark." + rel[: -len(".py")].replace("/", ".")
        text = path.read_text()
        lines = text.splitlines()
        for node in ast.parse(text).body:
            idents = _identifiers(lines, node)
            names = _defined_names(node)
            if not names or rel in ROOT_MODULES:
                roots |= idents
            for name in names:
                defs.setdefault(name, []).append(
                    (f"{module}.{name}", isinstance(node, DEFS), idents)
                )
    scripts = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    scripts += sorted((REPO / "scripts").glob("*.py"))
    scripts += [p for p in sorted((REPO / "perfbench").glob("*.py"))
                if not p.name.startswith("test_")]
    for path in scripts:
        roots |= set(IDENT.findall(path.read_text()))

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


def test_every_package_definition_is_reachable_from_a_product_root():
    dead = set(unreachable_definitions())
    assert not dead - ALLOWED, (
        "reached by no product root (delete it with its tests, or give it "
        f"a product caller): {sorted(dead - ALLOWED)}"
    )
    assert not ALLOWED - dead, (
        f"allow-list entries now reached or gone: {sorted(ALLOWED - dead)}"
    )
