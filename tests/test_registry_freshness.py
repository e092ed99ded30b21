"""Mechanical guard for the OPERATORS.md query roster: it must list
every registered query, in registry order, with its oracle flag."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_operators_roster_matches_registry():
    """The OPERATORS.md appendix roster must list exactly the
    registered queries in registry order with correct oracle flags —
    regenerate it (tools/regen_roster.py) when adding operators."""
    from cdc_2025_spark.queries import ORACLES, QUERIES

    text = (REPO / "OPERATORS.md").read_text()
    rows = re.findall(
        r"^\| (\d+) \| `([a-z0-9_]+)` \| (yes|rows-only) \|$",
        text,
        re.MULTILINE,
    )
    listed = [(int(i), n, o) for i, n, o in rows]
    want = [
        (i, n, "yes" if n in ORACLES else "rows-only")
        for i, n in enumerate(QUERIES, 1)
    ]
    assert listed == want, (
        "OPERATORS.md roster out of sync with the registry — "
        "regenerate the appendix"
    )
