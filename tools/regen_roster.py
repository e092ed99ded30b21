"""Regenerate the OPERATORS.md appendix roster from the registry.

Run after ANY registration:

    python tools/regen_roster.py

The roster guard (tests/test_registry_freshness.py::
test_operators_roster_matches_registry) diffs the appendix against
the registry mechanically; this script is the other half of that
contract.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from cdc_2025_spark.queries import ORACLES, QUERIES  # noqa: E402

HEADER = "| # | query | oracle |\n|---|---|---|\n"
ROW = re.compile(r"(?:\| \d+ \| `[a-z0-9_]+` \| (?:yes|rows-only) \|\n)+")


def main() -> None:
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "OPERATORS.md",
    )
    text = open(path).read()
    start = text.index(HEADER) + len(HEADER)
    m = ROW.match(text[start:])
    if not m:
        raise SystemExit("roster table not found after header")
    rows = "".join(
        f"| {i} | `{n}` | {'yes' if n in ORACLES else 'rows-only'} |\n"
        for i, n in enumerate(QUERIES, 1)
    )
    open(path, "w").write(text[:start] + rows + text[start + m.end():])
    print(f"regenerated {len(QUERIES)} roster rows in OPERATORS.md")


if __name__ == "__main__":
    main()
