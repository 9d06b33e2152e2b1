"""Reachability guards over the package's top-level definitions.

Definitions: every top-level function and class in the package must be
reachable, by name, from a product root. Roots: the CLI
(``mbta_etl_spark/cli.py``), the batch pipeline (``pipeline/etl.py``),
the registry (``queries()`` / ``oracle_sql()``, whose oracle tables name
every entry), ``bench.py``, ``__spark_entry__.py``, ``scripts/`` and
``perfbench/`` (its tests aside). A definition is reached when its name
appears as an identifier in the code of a root or of a reached
definition: a name, an attribute, an imported name or its alias, or,
within the definition's own module, a string constant that is an
identifier (the registry's ``_ORACLES`` keys name their builders, which
``queries()`` looks up in its module). The walk is scope-aware: inside a
function, lambda or comprehension, a name it binds itself (a parameter,
a nested ``def``, an assignment) is not the top-level definition of that
name. Docstrings and comments are not code and reach nothing.
Module-level statements that define nothing (imports, the registry's
``_ORACLES[...] = ...`` rows) are root code of their module.
``__init__`` re-exports and ``tests/`` are not callers. Otherwise the
walk is name-level, so two definitions sharing a name reach each other.

Parameters: every optional parameter of a top-level package function
must be passed, by keyword or position, by some call in the package,
the other product roots or ``tests/``. A parameter no call passes has
one value in use: fold its default into the body. Calls match by name
as the walk does (``f(...)`` and ``mod.f(...)``), ``from m import f as
g`` aliases resolve to ``f``, and a call with ``*args`` or ``**kwargs``
counts as passing every parameter.

Publish protocol: reading a table's current version, the batch-id rule
and ``atomic_publish`` live in one function, ``pipeline/load.merge``;
every other writer passes it a build step.

All three guards parse source only and start no Spark session.
"""

from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "mbta_etl_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
COMPS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)

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


def _local_names(scope: ast.AST) -> set[str]:
    """The names a function, lambda or comprehension binds in its own
    scope: parameters, assignment and loop targets, ``as`` names, nested
    ``def``/``class`` names and imports, less ``global``/``nonlocal``
    declarations. Nested scopes' own bindings are not its bindings."""
    if isinstance(scope, COMPS):
        return {n.id for g in scope.generators for n in ast.walk(g.target)
                if isinstance(n, ast.Name)}
    a = scope.args
    names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
    names |= {p.arg for p in (a.vararg, a.kwarg) if p is not None}
    declared: set[str] = set()
    todo = [scope.body] if isinstance(scope, ast.Lambda) else list(scope.body)
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.Global, ast.Nonlocal)):
            declared.update(n.names)
        elif isinstance(n, DEFS):
            names.add(n.name)
            continue
        elif isinstance(n, (ast.Lambda, *COMPS)):
            continue
        elif isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            names.add(n.id)
        elif isinstance(n, ast.ExceptHandler) and n.name:
            names.add(n.name)
        elif isinstance(n, ast.alias):
            names.add(n.asname or n.name.split(".")[0])
        todo.extend(ast.iter_child_nodes(n))
    return names - declared


def _identifiers(node: ast.AST, module: str | None) -> set[str]:
    """The identifiers ``node``'s code uses. A string constant that is an
    identifier names a definition of ``module`` (as ``globals()[name]``
    does) and comes out qualified, ``module.name``; outside the package
    (``module`` None) it names nothing. A string statement (a docstring)
    is not code, so its text reaches nothing. A name that a function,
    lambda or comprehension binds for itself is not a use of the
    top-level definition of that name inside that scope; class bodies
    bind nothing here."""
    docstrings = {
        id(n.value) for n in ast.walk(node)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    out: set[str] = set()
    todo: list[tuple[ast.AST, frozenset[str]]] = [(node, frozenset())]
    while todo:
        n, bound = todo.pop()
        if isinstance(n, (*FUNCS, ast.Lambda, *COMPS)):
            inner = bound | _local_names(n)
            if isinstance(n, COMPS):
                outer = [n.generators[0].iter]
            else:
                a = n.args
                outer = [*a.defaults, *(d for d in a.kw_defaults if d is not None)]
                if not isinstance(n, ast.Lambda):
                    outer += [*n.decorator_list, n.returns] + [
                        p.annotation
                        for p in a.posonlyargs + a.args + a.kwonlyargs
                        + [a.vararg, a.kwarg] if p is not None
                    ]
            todo += [(c, bound) for c in outer if c is not None]
            skip = {id(c) for c in outer}
            todo += [(c, inner) for c in ast.iter_child_nodes(n)
                     if id(c) not in skip]
            continue
        if isinstance(n, ast.Name):
            if n.id not in bound:
                out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier() and id(n) not in docstrings
              and module is not None):
            out.add(f"{module}.{n.value}")
        todo += [(c, bound) for c in ast.iter_child_nodes(n)]
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
            idents = _identifiers(node, module)
            names = _defined_names(node)
            if not names or rel in ROOT_MODULES:
                roots |= idents
            for name in names:
                entry = (f"{module}.{name}", isinstance(node, DEFS), idents)
                defs.setdefault(name, []).append(entry)
                defs[entry[0]] = [entry]
    for path in _root_scripts():
        roots |= _identifiers(ast.parse(path.read_text()), None)

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for qualname, _, idents in defs[name]:
            reached.add(qualname)
            todo.extend(n for n in idents if n in defs and n not in reached)
    return sorted({
        qualname
        for entries in defs.values()
        for qualname, is_def, _ in entries if is_def and qualname not in reached
    })


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


def test_names_bound_in_a_scope_reach_no_top_level_definition():
    tree = ast.parse(
        "def f(a, b=helper):\n"
        "    def unit(c):\n"
        "        return c\n"
        "    d = [e for e in a]\n"
        "    return [unit(a), d, e, lambda g: g + other, 'row_name']\n"
    )
    want = {"helper", "e", "other"}
    assert _identifiers(tree.body[0], "m") == want | {"m.row_name"}
    assert _identifiers(tree.body[0], None) == want


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


PROTOCOL_MODULE = "pipeline/load.py"
PROTOCOL_FUNCTION = "merge"


def protocol_uses(tree: ast.Module) -> list[tuple[str | None, str]]:
    """(enclosing top-level function or None, what) for each use of the
    publish protocol in ``tree``: a name, attribute or import of
    ``atomic_publish`` or ``claim_batch``, and each read of a
    ``.batch_id`` attribute."""
    uses: list[tuple[str | None, str]] = []
    for top in tree.body:
        owner = top.name if isinstance(top, FUNCS) else None
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias):
                name = n.name.split(".")[-1]
            else:
                continue
            if name in ("atomic_publish", "claim_batch") or (
                name == "batch_id" and isinstance(n, ast.Attribute)
            ):
                uses.append((owner, name))
    return uses


def protocol_outside_merge() -> list[str]:
    """Uses of the publish protocol anywhere but the body of
    ``load.merge`` (defining ``atomic_publish`` is not a use)."""
    out = []
    for rel, _, tree in _package_modules():
        for owner, name in protocol_uses(tree):
            if rel != PROTOCOL_MODULE or owner != PROTOCOL_FUNCTION:
                out.append(f"{rel}:{owner}:{name}")
    return out


def test_protocol_uses_reads_code():
    tree = ast.parse(
        "from m import atomic_publish as ap\n"
        "def merge(b, cur):\n"
        "    '''atomic_publish claim_batch batch_id'''\n"
        "    if cur.batch_id == b:\n"
        "        return\n"
        "    atomic_publish(b)\n"
        "def step(batch_id):\n"
        "    return load.claim_batch(batch_id)\n"
    )
    assert protocol_uses(tree) == [
        (None, "atomic_publish"), ("merge", "batch_id"),
        ("merge", "atomic_publish"), ("step", "claim_batch"),
    ]


def test_publish_protocol_lives_in_load_merge():
    """No package module but ``pipeline/load.py`` names ``atomic_publish``
    or reads a published batch id, and within it only ``merge`` does:
    it reads the current version and publishes the next exactly once."""
    assert protocol_outside_merge() == []
    tree = ast.parse((PKG / PROTOCOL_MODULE).read_text())
    (merge,) = [n for n in tree.body
                if isinstance(n, FUNCS) and n.name == PROTOCOL_FUNCTION]
    calls = [c.func.id for c in ast.walk(merge)
             if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)]
    assert calls.count("read_published") == 1
    assert calls.count("atomic_publish") == 1
