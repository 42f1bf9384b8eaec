"""Regenerate QUERIES.md: the full registered-query inventory from the registry.

Usage: python tools/dump_queries.py  (writes QUERIES.md at the repo root)
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_docker_spark.registry import all_specs  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")


def render(specs: dict | None = None) -> str:
    """QUERIES.md's content for the registered queries."""
    specs = all_specs() if specs is None else specs
    n_sql = sum(1 for s in specs.values() if s.sql is not None)
    by_sec: dict[str, list] = defaultdict(list)
    for s in specs.values():
        by_sec[s.section].append(s)

    lines = [
        "# QUERIES — every registered query, from the registry\n",
        "Generated by `python tools/dump_queries.py`. "
        f"{len(specs)} queries; {n_sql} with a DuckDB value-hash oracle, "
        f"{len(specs) - n_sql} rows-only. Grouped by SURVEY.md §2 tag; see "
        "COVERAGE.md for the inventory mapping.\n",
        "| query | §2 tag | check | note |",
        "|---|---|---|---|",
    ]
    for sec in sorted(by_sec):
        for s in sorted(by_sec[sec], key=lambda x: x.name):
            check = "oracle" if s.sql is not None else "rows-only"
            lines.append(f"| `{s.name}` | {sec} | {check} | {s.note} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    specs = all_specs()
    n_sql = sum(1 for s in specs.values() if s.sql is not None)
    with open(OUT, "w") as fh:
        fh.write(render(specs))
    print(f"wrote {OUT} ({len(specs)} queries)")

    # keep COVERAGE.md's header counts in sync (they drifted in round 2 —
    # VERDICT.md r2 What's-wrong #4); tests/test_registry.py pins all three
    # counts against the registry so a stale regen fails tests
    cov = os.path.join(os.path.dirname(OUT), "COVERAGE.md")
    with open(cov) as fh:
        text = fh.read()
    import re

    text = re.sub(
        r"\d+ registered queries; \d+ carry a full DuckDB value-hash\noracle, \d+ are rows-only",
        f"{len(specs)} registered queries; {n_sql} carry a full DuckDB value-hash\n"
        f"oracle, {len(specs) - n_sql} are rows-only",
        text,
        count=1,
    )
    with open(cov, "w") as fh:
        fh.write(text)
    print(f"synced {cov} header counts")


if __name__ == "__main__":
    main()
