"""Forty-second batch — Q21's double correlation and Q7's symmetric
nation pair, hand-walked.

Q7: the same dimension joined twice under different roles — the
directions are DISTINCT groups (N1->N2 and N2->N1 never merge),
same-nation and third-nation flows are excluded by the OR-of-pairs, and
both half-open shipdate boundaries are walked (1995-12-31 out,
1996-01-01 in, 1997-12-31 in, 1998-01-01 out).

Q21, on both variants (the decorrelated EXISTS/NOT-EXISTS plan and the
one-pass window rewrite must agree with each other, the oracle, and the
hand truth):

* order 10: S1's R line has another supplier (S2, non-R) -> qualifies;
* order 20: S1 and S2 BOTH return -> each sees another R supplier ->
  nobody qualifies;
* order 30: status 'O' -> out entirely;
* order 40: S1 has TWO R lines and S2 is present non-R — numwait
  counts LINE rows, not orders, so S1 gains 2 (and the one-pass
  rewrite's distinct-R-supplier set {S1} of size 1 must agree);
* order 50: the only sibling has a NULL suppkey — NULL <> x is NULL,
  so it is NOT an "other supplier" and the EXISTS fails;
* order 60: a NULL-suppkey R sibling must NOT block the NOT EXISTS
  (same three-valued law from the blocking side) -> S3 qualifies;
* a dangling lineitem order vanishes at the inner join.

Hand total: S1 = 3, S3 = 1, ordered numwait DESC.
"""

from __future__ import annotations

import pytest

import crafted
from mapreduce_docker_spark.operators.tpch_queries import (
    q21_waiting_suppliers,
    q21_waiting_suppliers_onepass,
)
from mapreduce_docker_spark.registry import all_specs


def test_q7_symmetric_pair_and_year_boundaries_both_engines(spark, tmp_path):
    import datetime as dt

    from mapreduce_docker_spark.operators.tpch_queries import q7_volume_shipping

    crafted.write(spark, tmp_path, "nation",
                  [(1, "NATION_1"), (2, "NATION_2"), (3, "NATION_3")],
                  "n_nationkey int, n_name string")
    crafted.write(spark, tmp_path, "supplier", [(1, 1), (2, 2), (3, 3)],
                  "s_suppkey long, s_nationkey int")
    crafted.write(spark, tmp_path, "customer", [(10, 2), (11, 1), (12, 3)],
                  "c_custkey long, c_nationkey int")
    crafted.write(spark, tmp_path, "orders", [(100, 10), (101, 11), (102, 12)],
                  "o_orderkey long, o_custkey long")
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (100, 1, dt.datetime(1996, 1, 1), 100.0, 0.0),    # boundary IN
            (100, 1, dt.datetime(1995, 12, 31), 999.0, 0.0),  # boundary OUT
            (100, 1, dt.datetime(1997, 12, 31), 50.0, 0.5),   # last day IN
            (100, 1, dt.datetime(1998, 1, 1), 999.0, 0.0),    # boundary OUT
            (101, 2, dt.datetime(1996, 6, 1), 80.0, 0.25),    # flipped pair
            (101, 1, dt.datetime(1996, 6, 1), 999.0, 0.0),    # N1 -> N1: out
            (102, 1, dt.datetime(1996, 6, 1), 999.0, 0.0),    # N1 -> N3: out
            (100, 3, dt.datetime(1996, 6, 1), 999.0, 0.0),    # N3 -> N2: out
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp,"
        " l_extendedprice double, l_discount double",
    )
    want = sorted(
        [
            ("NATION_1", "NATION_2", 1996, 100.0),
            ("NATION_1", "NATION_2", 1997, 25.0),
            ("NATION_2", "NATION_1", 1996, 60.0),
        ]
    )
    got = sorted(tuple(r) for r in q7_volume_shipping(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(
        crafted.oracle(
            tmp_path,
            ("nation", "supplier", "customer", "orders", "lineitem"),
            all_specs()["q7_volume_shipping"].sql,
        )
    ) == want


@pytest.mark.parametrize(
    "fn,name",
    [
        (q21_waiting_suppliers, "q21_waiting_suppliers"),
        (q21_waiting_suppliers_onepass, "q21_waiting_suppliers_onepass"),
    ],
)
def test_q21_double_correlation_hand_walked_both_engines(spark, tmp_path, fn, name):
    crafted.write(
        spark, tmp_path, "supplier",
        [(1, "S1"), (2, "S2"), (3, "S3")],
        "s_suppkey long, s_name string",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(10, "F"), (20, "F"), (30, "O"), (40, "F"), (50, "F"), (60, "F")],
        "o_orderkey long, o_orderstatus string",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (10, 1, "R"), (10, 2, "N"),
            (20, 1, "R"), (20, 2, "R"),
            (30, 1, "R"), (30, 2, "N"),
            (40, 1, "R"), (40, 1, "R"), (40, 2, "N"),
            (50, 3, "R"), (50, None, "N"),
            (60, 3, "R"), (60, 2, "N"), (60, None, "R"),
            (999, 3, "R"),
        ],
        "l_orderkey long, l_suppkey long, l_returnflag string",
    )
    want = [("S1", 3), ("S3", 1)]
    got = [tuple(r) for r in fn(spark, str(tmp_path)).collect()]
    assert got == want
    assert crafted.oracle(
        tmp_path, ("supplier", "orders", "lineitem"), all_specs()[name].sql
    ) == want
