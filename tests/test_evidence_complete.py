"""Evidence-completeness guard: every registered query must have (a) an
oracle and (b) a green row in the committed correctness supplement.

The external driver records only ~50 CORRECTNESS rows per round, so the
supplement (scripts/check_correctness.py --json) is the artifact that
keeps the other hundred-plus operators evidenced. This test makes
"added a query but never hash-verified it" a suite failure instead of a
silent gap."""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_oracle_and_green_supplement_row():
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(qs) == set(oracles), (
        "every queries() entry needs an oracle_sql() entry; "
        f"diff: {sorted(set(qs) ^ set(oracles))}"
    )

    import glob

    latest = max(glob.glob(os.path.join(REPO, "CORRECTNESS_SUPPLEMENT_r*.json")))
    with open(latest) as f:
        sup = json.load(f)
    missing = sorted(set(qs) - set(sup))
    assert not missing, f"queries with no supplement evidence row: {missing}"
    bad = sorted(
        name
        for name, row in sup.items()
        if name in qs
        and not (
            row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
        )
    )
    assert not bad, f"queries whose supplement row is not green: {bad}"
