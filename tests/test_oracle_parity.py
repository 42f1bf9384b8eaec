"""Local replica of the driver's DuckDB-oracle correctness gate, plus the
plan audit, in one pass over the registry.

For every registered query with an oracle: run the Spark plan and the DuckDB
SQL on the same parquet fixtures and compare them with
``mapreduce_docker_spark.oracle.diff`` (column names, row count, rows with
columns sorted by name and rows sorted by value, floats exact). Queries are
expected to round on BOTH sides so cross-engine float drift cannot appear;
a mismatch here predicts a mismatch in the driver's value-hash.

Every registered query, rows-only and streaming included, also checks the
executed plan of the DataFrame it is about to collect or count against
``tools/plan_audit.KNOWN``: its flagged operators (row-Python, Arrow
kernels, cartesian, nested-loop joins, pandas execs) must equal its
allowlist entry exactly, and an unlisted query must raise none.

Runs at sf0.001 for speed; the driver runs the same shape at sf0.01.
Set ``ORACLE_SF_DIR`` to override.
"""

from __future__ import annotations

import os

import pytest

from mapreduce_docker_spark import oracle
from mapreduce_docker_spark.registry import all_specs
from mapreduce_docker_spark.sources.catalog import TABLES
from tools.plan_audit import KNOWN, plan_flags

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = oracle.connect(SF_DIR, TABLES)
    yield con
    con.close()


_SPECS = all_specs()
_WITH_ORACLE = [name for name, s in _SPECS.items() if s.sql is not None]


def _assert_known_flags(name, sdf):
    flags = plan_flags(sdf._jdf.queryExecution().executedPlan().toString())
    known = KNOWN[name][0] if name in KNOWN else frozenset()
    assert flags == known, f"{name}: plan flags {sorted(flags)}, KNOWN {sorted(known)}"


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    spec = _SPECS[name]
    sdf = spec.fn(spark, SF_DIR)
    _assert_known_flags(name, sdf)
    ores = duck.execute(spec.sql)
    mismatch = oracle.diff(
        sdf.columns, sdf.collect(), [d[0] for d in ores.description], ores.fetchall()
    )
    assert mismatch is None, f"{name}: {mismatch}"


@pytest.mark.parametrize(
    "name", [name for name, s in _SPECS.items() if s.sql is None]
)
def test_rows_only(spark, name):
    """Non-SQL-expressible ops: plan executes and returns a stable schema."""
    spec = _SPECS[name]
    sdf = spec.fn(spark, SF_DIR)
    _assert_known_flags(name, sdf)
    assert sdf.columns
    assert sdf.count() >= 0
