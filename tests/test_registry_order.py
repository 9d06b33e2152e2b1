"""Registry-order guard: the driver's correctness harness checks the
FIRST 50 entries of queries() in iteration order. queries() lists the
hand-kept ``registry._DRIVER_HOLDOUTS`` first (entries whose plan or
oracle changed since their last green driver row), then every entry in
oracle-table order. Verification state lives in the repo-root
CORRECTNESS_r*.json files the driver writes; these tests read them, the
registry import does not.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import __spark_entry__ as entrymod
from mbta_etl_spark.plans import llm_registry, registry
from mbta_etl_spark.plans.registry import _DRIVER_HOLDOUTS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_driver_rows() -> dict[str, bool]:
    """For each name, whether its row in the HIGHEST-numbered
    CORRECTNESS file is all-green. Parses STRICTLY (identity-True
    booleans, no coercion), so driver format drift like booleans
    arriving as strings fails here instead of passing silently."""
    def _round_no(fn: str) -> int:
        m = re.search(r"r(\d+)", fn)
        return int(m.group(1)) if m else -1

    names = sorted(
        (
            fn for fn in os.listdir(REPO)
            if fn.startswith("CORRECTNESS_r") and fn.endswith(".json")
        ),
        key=_round_no,  # numeric: an unpadded r100 must sort after r99
    )
    status: dict[str, bool] = {}
    for fn in names:
        with open(os.path.join(REPO, fn)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            status[name] = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") in (True, None)
                and row.get("hash_match") in (True, None)
            )
    return status


def test_holdouts_lead_then_oracle_table_order():
    """The driver window is the holdouts, then the oracle tables in
    declaration order (llm_registry's, then registry's); every key is
    bound to the same-named builder in the module that holds its
    oracle row."""
    qs = entrymod.queries()
    names = list(qs)
    table_order = [*llm_registry._ORACLES, *registry._ORACLES]
    assert names[: len(_DRIVER_HOLDOUTS)] == list(_DRIVER_HOLDOUTS)
    rest = [n for n in table_order if n not in _DRIVER_HOLDOUTS]
    assert names[len(_DRIVER_HOLDOUTS):] == rest
    for mod in (llm_registry, registry):
        for name in mod._ORACLES:
            fn = qs[name]
            assert fn.__name__ == name and fn.__module__ == mod.__name__


def test_registered_entries_have_green_latest_driver_row():
    """Every registered entry that is not held out has a latest driver
    row, and that row is all-green. Holdouts must be registered and
    must have a green row to return to (otherwise holding them out is
    dead weight)."""
    latest = _latest_driver_rows()
    registered = set(entrymod.queries())
    not_green = sorted(
        n for n in registered - set(_DRIVER_HOLDOUTS) if not latest.get(n)
    )
    assert not not_green, (
        "registered entries without an all-green latest driver row — "
        f"add them to registry._DRIVER_HOLDOUTS: {not_green}"
    )
    dead = sorted(
        n for n in _DRIVER_HOLDOUTS if n not in registered or not latest.get(n)
    )
    assert not dead, f"stale holdouts (not registered / no green row): {dead}"


def test_registry_import_reads_no_correctness_files():
    """Verification state is checked by the tests above, never at
    import: importing the registry and listing its entries opens no
    CORRECTNESS_r*.json file."""
    code = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, args: ev == 'open'"
        " and opened.append(str(args[0])))\n"
        "from mbta_etl_spark.plans import registry\n"
        "registry.queries(); registry.oracle_sql()\n"
        "print('\\n'.join(p for p in opened if 'CORRECTNESS_r' in p))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.strip() == "", out.stdout


def test_every_query_has_oracle_or_documented_exception():
    """Round 5 closed the last no-oracle gaps (VERDICT r4 item 3): the
    approx-sketch trio carries composed oracles (exact statistic +
    asserted in-bounds flag, the d13 pattern) and s15_pca_eigen was
    retired in favor of the oracle-checked s15a invariants — EVERY
    registry entry must now have a DuckDB oracle."""
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    rows_only = qs - oracles
    assert rows_only == set(), (
        f"unexpected rows-only entries: {sorted(rows_only)}"
    )
    assert not (oracles - qs), "orphan oracles with no query entry"


def test_coverage_doc_counts_match_registry():
    """COVERAGE.md's summary line must track the real registry — the
    count is bumped by hand with each new entry, and this pins it so the
    doc can't silently drift from the code."""
    with open("COVERAGE.md") as f:
        text = f.read()
    m = re.search(r"(\d+) registry entries; (\d+) oracle-checked", text)
    assert m, "COVERAGE.md summary line missing"
    n_entries, n_oracle = int(m.group(1)), int(m.group(2))
    assert n_entries == len(entrymod.queries())
    assert n_oracle == len(entrymod.oracle_sql())
    # README's quick-start comment carries the same hand-bumped count
    # (drifted silently in round 7 until pinned here)
    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    rm = re.search(r"# (\d+) analytics ops", readme)
    assert rm, "README registry count comment missing"
    assert int(rm.group(1)) == len(entrymod.queries())


def test_verified_entries_plan_shapes_frozen():
    """Every registered entry that is not held out must still have the
    plan fingerprint recorded when the driver verified it
    (driver_green_shapes.json, written by scripts/sync_green_shapes.py
    right after a driver run). A plan change to a verified entry
    therefore fails here until the name moves into
    registry._DRIVER_HOLDOUTS, which re-queues it at the front of the
    driver window.

    Limitation, stated: streaming equivalence entries' fingerprints are
    only the standing-table read-back (the replay executes inside the
    entry), so a semantic change there does not move the fingerprint —
    those holdouts remain review discipline (st05/st06 in round 7)."""
    with open(os.path.join(REPO, "plans_snapshot.json")) as f:
        snapshot = json.load(f)
    with open(os.path.join(REPO, "driver_green_shapes.json")) as f:
        green_shapes = json.load(f)

    problems = []
    for name in sorted(set(entrymod.queries()) - set(_DRIVER_HOLDOUTS)):
        if name not in green_shapes:
            problems.append(f"{name}: no recorded green shape")
        elif green_shapes[name] != snapshot.get(name):
            problems.append(f"{name}: plan shape changed since driver green")
    assert not problems, (
        "registered entries drifted from their driver-verified plan shape "
        "— move them into registry._DRIVER_HOLDOUTS (or, right after a "
        "driver run only, rerun scripts/sync_green_shapes.py): "
        + "; ".join(problems)
    )
