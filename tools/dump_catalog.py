#!/usr/bin/env python
"""Regenerate CATALOG.md: every registered query, its oracle status, and
the first docstring line — the navigable index of the query surface.
Run from the repo root: `python tools/dump_catalog.py`."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esther_apache_spark_spark import plans  # noqa: E402

HEADER = """# CATALOG — every registered query (generated by tools/dump_catalog.py)

One row per `plans` registry entry: the name the driver calls through
`__spark_entry__.queries()`, whether it carries a DuckDB oracle
(hash-compared) or is rows-only by design (approximate / trained /
stateful — property-tested instead), and its one-line summary.
`COVERAGE.md` maps these to SURVEY.md §2; `PLANS.md` snapshots selected
physical plans.
"""


def first_line(doc: str) -> str:
    for line in doc.splitlines():
        line = line.strip()
        if line:
            return line
    return ""


def render() -> str:
    """CATALOG.md's full text for the current registry."""
    rows = []
    for name in sorted(plans.QUERIES):
        spec = plans.QUERIES[name]
        kind = "oracled" if spec.oracle else "rows-only"
        rows.append(f"| `{name}` | {kind} | {first_line(spec.doc)} |")
    n_total = len(plans.QUERIES)
    n_oracled = sum(1 for s in plans.QUERIES.values() if s.oracle)
    return "\n".join(
        [
            HEADER,
            f"**{n_total} queries, {n_oracled} oracled, "
            f"{n_total - n_oracled} rows-only.**",
            "",
            "| query | check | summary |",
            "|---|---|---|",
            *rows,
            "",
        ]
    )


def main() -> None:
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"CATALOG.md written ({len(plans.QUERIES)} queries)")


if __name__ == "__main__":
    main()
