#!/usr/bin/env python
"""Regenerate QUERIES.md from the live query catalog."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def render() -> str:
    """The QUERIES.md text for the catalog as it is registered now."""
    from data_engineering_individual_assignment_spark import plans

    lines = [
        "# QUERIES — the catalog behind __spark_entry__.py",
        "",
        "Auto-generated from `data_engineering_individual_assignment_spark/plans/` "
        "(`python docs_queries.py`). 'oracle' = hash-compared against DuckDB "
        "running the twin SQL at sf0.01 by the driver; 'rows-only' = "
        "approximate/engine-specific by design, unit-tested against its exact "
        "twin instead.",
        "",
    ]
    by_mod: dict[str, list] = {}
    for q in plans.CATALOG.values():
        by_mod.setdefault(q.fn.__module__.rsplit(".", 1)[-1], []).append(q)
    preferred = ["relational", "reference", "analytics", "scalar", "advanced",
                 "extensions", "curation", "features", "tpch", "timeseries",
                 "profiling", "training", "diagnostics", "insights"]
    mods = preferred + sorted(set(by_mod) - set(preferred))
    for mod in mods:
        qs = by_mod.get(mod, [])
        lines += [f"## plans/{mod}.py ({len(qs)} queries)", "",
                  "| query | check | what it pins |", "|---|---|---|"]
        for q in qs:
            doc = " ".join((q.doc or "").split())
            if len(doc) > 220:
                doc = doc[:217] + "..."
            check = "oracle" if q.sql else "rows-only"
            lines.append(f"| `{q.name}` | {check} | {doc} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open(os.path.join(os.path.dirname(__file__), "QUERIES.md"), "w") as fh:
        fh.write(render())


if __name__ == "__main__":
    main()
