"""Shared helpers for the ``test_crafted_truth*.py`` series.

Each crafted-truth test writes a few hand-built tables, runs a registered
query on them and compares the rows with a truth computed by hand (and,
where the query has one, with its DuckDB oracle run on the same tables).
"""

from __future__ import annotations

import math

from mapreduce_docker_spark import oracle as _oracle


def write(spark, tmp_path, table, rows, schema):
    """Write ``rows`` as the single-part Spark table ``<table>.parquet``."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / f"{table}.parquet")
    )


def r(x: float, n: int) -> float:
    """The Python twin of ``functions/rounding.dround`` (round half up)."""
    return math.floor(x * 10**n + 0.5) / 10**n


def oracle(tmp_path, tables, sql):
    """Rows of ``sql`` run by DuckDB over the tables written in ``tmp_path``."""
    con = _oracle.connect(tmp_path, tables)
    try:
        return [tuple(row) for row in con.execute(sql).fetchall()]
    finally:
        con.close()
