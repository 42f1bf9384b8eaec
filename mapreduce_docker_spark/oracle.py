"""The one engine-vs-oracle result comparator.

Every correctness gate (the oracle-parity suite, the bare-session driver
replica, the degenerate sweep, the seeded random differential, the
crafted-truth tests) compares a Spark result with its DuckDB oracle the
way the driver does: the same column set, the same row count, and equal
rows once the columns are sorted by name and the rows are sorted by
value. Floats compare by exact ``repr`` (NaN equals NaN). The driver's
gate is an exact value hash, so a tolerance here would pass drift the
driver flags; queries round identically on both sides themselves
(``functions/rounding.py``).
"""

from __future__ import annotations

import math
import os

import duckdb


def connect(fixture_dir, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``fixture_dir``.

    ``<table>.parquet`` may be a single file or a Spark-written directory
    of part files; the path tells which.
    """
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(str(fixture_dir), f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _canon(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", int(v))
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def normalize(rows, columns) -> list[tuple]:
    """Rows with their cells in column-name order, canonicalized, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def diff(scols, srows, ocols, orows) -> str | None:
    """None when the Spark and oracle results match, else what differs."""
    if sorted(scols) != sorted(ocols):
        return f"columns {list(scols)} vs {list(ocols)}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} vs {len(orows)}"
    got, want = normalize(srows, scols), normalize(orows, ocols)
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w][:3]
    if not bad:
        return None
    return f"first differing sorted rows at {bad}: " + "; ".join(
        f"spark={got[i]} oracle={want[i]}" for i in bad
    )
