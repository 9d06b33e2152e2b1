#!/usr/bin/env python3
"""Record the plan-shape fingerprint of every registered entry that is
not held out (``registry._DRIVER_HOLDOUTS``) into driver_green_shapes.json.

tests/test_registry_order.py::test_verified_entries_plan_shapes_frozen
fails whenever such an entry's live fingerprint in plans_snapshot.json no
longer matches its recorded shape — forcing the developer to either
revert the plan change or move the name into _DRIVER_HOLDOUTS so the
driver re-verifies it.

Run this script only right after a driver run has written
CORRECTNESS_r{N}.json, when the live tree is exactly what the driver
verified, typically together with clearing re-verified names from
_DRIVER_HOLDOUTS. Never run it after editing a verified entry's plan:
that would launder the change past the gate.

Known limitation (inherited from the fingerprint itself): streaming
equivalence entries execute their replay inside the entry, so their
fingerprint is only the standing-table read-back — a semantic change
there does not move the fingerprint, and holding those out stays a
review-discipline matter.

Review the diff before committing: every row change should correspond
to a name that just gained (or refreshed) a green driver row.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SNAPSHOT_PATH = os.path.join(REPO, "plans_snapshot.json")
GREEN_PATH = os.path.join(REPO, "driver_green_shapes.json")


def main() -> None:
    from mbta_etl_spark.plans.registry import _DRIVER_HOLDOUTS, queries

    with open(SNAPSHOT_PATH) as f:
        snapshot = json.load(f)
    names = sorted(set(queries()) - set(_DRIVER_HOLDOUTS))
    missing = [n for n in names if n not in snapshot]
    if missing:
        raise SystemExit(
            f"registered entries missing from plans_snapshot.json: {missing} "
            "— run scripts/plan_snapshot.py first"
        )
    with open(GREEN_PATH, "w") as f:
        json.dump({n: snapshot[n] for n in names}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(names)} green plan shapes to {GREEN_PATH}")


if __name__ == "__main__":
    main()
