"""Thirty-seventh batch — NULL-key join semantics on the r13-candidate
TPC-H shapes (hand-truth-first; q16's probe found a real divergence,
fixed this round):

* ``q16_parts_supplier``: the NOT-IN/anti-join NULL asymmetry — SQL
  ``NOT IN`` silently drops a NULL lhs while Spark's left-anti KEEPS
  it, so a supplierless lineitem on a wanted part created a phantom
  zero-count (brand, size) group engine-side only (measured before the
  fix: spark [(B2,5,1),(B2,10,0)] vs duck [(B2,5,1)]). Both engines
  now exclude NULL keys EXPLICITLY, and a NULL key inside the bad-list
  subquery (which would empty the entire NOT IN result) is excluded
  the same way;
* ``q13_customer_distribution``: the join-CONDITION filter (not WHERE)
  keeps a customer whose only orders are urgent — c_count 0, not a
  dropped row; a NULL o_orderpriority order never joins (<> on NULL);
  a NULL c_custkey customer is its own zero-count group;
* ``q15_top_supplier``: BOTH suppliers tied at the rounded max are
  returned (the rounded-cut-line discipline makes the tie exact on
  both engines), and a NULL l_suppkey revenue group is excluded from
  the revenue VIEW (r11 probe: unexcluded it stole the max on both
  engines and emptied the result at the supplier join — engines
  agreed, but a supplierless group is not a top-supplier candidate).
"""

from __future__ import annotations

import datetime as dt


import crafted
from mapreduce_docker_spark.operators.tpch_queries import (
    q13_customer_distribution,
    q15_top_supplier,
    q16_parts_supplier,
)
from mapreduce_docker_spark.registry import all_specs


def test_q16_null_keys_excluded_both_engines(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "part",
        [
            (1, "Brand#2", "STD", 5),
            (2, "Brand#2", "STD", 10),   # only a NULL-suppkey line: no group
            (3, "Brand#1", "STD", 5),    # excluded brand
            (4, "Brand#2", "PROMO", 5),  # excluded type
            (5, "Brand#2", "STD", 7),    # size not in the list
        ],
        "p_partkey long, p_brand string, p_type string, p_size int",
    )
    crafted.write(
        spark, tmp_path, "supplier",
        [(1, 10.0), (2, -5.0), (3, None), (None, -9.0)],
        "s_suppkey long, s_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (1, 1),      # good supplier -> counted
            (1, 2),      # negative balance -> anti-joined away
            (1, 3),      # NULL balance is not < 0 -> counted
            (1, 1),      # duplicate supplier -> DISTINCT collapses
            (2, None),   # NULL suppkey: NO phantom (Brand#2, 10, 0) group
            (3, 1), (4, 1), (5, 1),  # excluded parts
        ],
        "l_partkey long, l_suppkey long",
    )
    want = [("Brand#2", 5, 2)]
    got = sorted(tuple(r) for r in q16_parts_supplier(spark, str(tmp_path)).collect())
    assert got == want
    spec = all_specs()["q16_parts_supplier"]
    assert sorted(
        crafted.oracle(tmp_path, ("part", "supplier", "lineitem"), spec.sql)
    ) == want


def test_q13_condition_filter_and_null_keys_both_engines(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "customer",
        [(1,), (2,), (3,), (None,)],
        "c_custkey long",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [
            (10, 1, "1-URGENT"),   # cust 1's ONLY order is urgent -> c_count 0
            (11, 2, "2-HIGH"),
            (12, 2, "3-MEDIUM"),
            (13, 3, None),         # NULL priority: <> is NULL -> never joins
            (14, None, "2-HIGH"),  # NULL custkey order matches nobody
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    # per-customer counts: 1 -> 0 (urgent filtered IN THE JOIN CONDITION,
    # so the customer row survives), 2 -> 2, 3 -> 0, NULL -> 0
    # distribution: c_count 0 x3, c_count 2 x1
    want = sorted([(0, 3), (2, 1)])
    got = sorted(
        tuple(r) for r in q13_customer_distribution(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["q13_customer_distribution"]
    assert sorted(crafted.oracle(tmp_path, ("customer", "orders"), spec.sql)) == want


def test_q15_max_tie_returns_both_both_engines(spark, tmp_path):
    d = dt.datetime
    crafted.write(
        spark, tmp_path, "supplier",
        [(1, "s1"), (2, "s2"), (3, "s3")],
        "s_suppkey long, s_name string",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            # s1 and s2 tie at rounded 100.00; s3 trails at 99.99
            (1, d(1996, 2, 1), 100.0, 0.0),
            (2, d(1996, 2, 2), 50.0, 0.0),
            (2, d(1996, 2, 3), 50.0, 0.0),
            (3, d(1996, 2, 4), 99.99, 0.0),
            # outside the [1996-01-01, 1996-04-01) window: would break the tie
            (3, d(1996, 4, 1), 1000.0, 0.0),
            # NULL suppkey with the LARGEST revenue: excluded from the view
            # (before the r11 law it stole the max and emptied the result)
            (None, d(1996, 2, 5), 5000.0, 0.0),
        ],
        "l_suppkey long, l_shipdate timestamp, l_extendedprice double, l_discount double",
    )
    want = sorted([(1, "s1", 100.0), (2, "s2", 100.0)])
    got = sorted(tuple(r) for r in q15_top_supplier(spark, str(tmp_path)).collect())
    assert got == want
    spec = all_specs()["q15_top_supplier"]
    assert sorted(crafted.oracle(tmp_path, ("supplier", "lineitem"), spec.sql)) == want
