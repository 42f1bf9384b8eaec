"""Output checks: DuckDB oracle answers and a cross-engine row compare.

A registered query's rows must equal its ``oracle_sql()`` answer on the
same parquet files. Rows are compared as multisets with columns ordered by
name. Floats must match exactly, or differ by at most one unit in the last
decimal place either side prints: the registered queries round floats on
both engines, and a sum that lands on a rounding boundary may round either
way depending on summation order.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

from gen import TABLE_NAMES


def oracle_answers(tables_dir: str, sqls: dict[str, str], threads: int) -> dict[str, tuple]:
    """``{name: (columns, rows)}`` from DuckDB over ``tables_dir``."""
    import duckdb

    con = duckdb.connect(config={"threads": threads})
    try:
        for t in TABLE_NAMES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def _canon(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _key(row):
    # order by the non-float cells first; floats only break ties, and
    # coarsely, so two within-tolerance floats cannot sort rows apart
    return tuple(
        ("%.3f" % x) if isinstance(x, float) else (x is None, repr(x)) for x in row
    )


def _last_digit_unit(x: float) -> float:
    """Value of one unit in the last digit ``repr`` prints (``0.15`` ->
    0.01, ``2e-05`` -> 1e-05, ``1.5e+16`` -> 1e+15); 0 for inf and nan."""
    exp = decimal.Decimal(repr(x)).as_tuple().exponent
    return 10.0**exp if isinstance(exp, int) else 0.0


def _cell_eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if a == b or (math.isnan(a) and math.isnan(b)):
            return True
        step = min(_last_digit_unit(a), _last_digit_unit(b))
        return abs(a - b) <= step * (1 + 1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the results agree, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows, expected {len(want_rows)}"
    gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    got = sorted((tuple(_canon(r[i]) for i in gi) for r in got_rows), key=_key)
    want = sorted((tuple(_canon(r[i]) for i in wi) for r in want_rows), key=_key)
    for g, w in zip(got, want):
        if not all(_cell_eq(x, y) for x, y in zip(g, w)):
            return f"row {g} != expected {w}"
    return None
