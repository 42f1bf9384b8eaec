"""Thirty-sixth batch — pre-written truths for the trap-prone r12-window
candidates (the hand-truth-first pattern: truths land BEFORE the names
rotate into a driver window), plus the fix its probing forced:

* ``q6_forecast_revenue``: BETWEEN is inclusive at BOTH discount ends,
  the quantity cut is strict (<24), the ship window is half-open, and a
  NULL discount never matches a BETWEEN;
* ``q18_large_orders``: the HAVING cut at exactly 300 is excluded
  (strict >), NULL quantities are sum-skipped, an order can qualify
  through them;
* ``q14_promo_revenue_share``: the r11 FIND — an all-zero-price ship
  month made the unguarded ratio throw ANSI DIVIDE_BY_ZERO on Spark
  while DuckDB's division-by-zero NULL flowed through. The contract is
  now explicit on both engines: a zero total revenue has no defined
  promo share -> NULL. Empty-window (sum NULL) stays NULL too;
* ``window_range_price_band``: RANGE frames measured equal across
  engines on the two classic traps — tie rows are PEERS (CURRENT ROW
  in RANGE mode closes the peer group, so equal prices count each
  other) and the NULL-ordering rows form their own peer group;
* ``join_full_outer_balances``: a nation missing either side carries
  NULL through the full outer join, NULL nation keys never match
  (two dangling sides, both dropped by the inner nation join), and a
  NULL balance inside a real group is sum-skipped.
"""

from __future__ import annotations

import datetime as dt


import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    join_full_outer_balances,
    q6_forecast_revenue,
    q14_promo_revenue_share,
    q18_large_orders,
    window_range_price_band,
)
from mapreduce_docker_spark.registry import all_specs


_LI6 = "l_shipdate timestamp, l_discount double, l_quantity double, l_extendedprice double"


def test_q6_between_and_cut_boundaries_both_engines(spark, tmp_path):
    d = dt.datetime
    rows = [
        # both boundary discounts are INCLUSIVE; boundary dates: lower in,
        # upper out; qty 24 exactly is excluded (strict <)
        (d(1997, 1, 1, 0, 0, 0), 0.05, 23.9, 100.0),        # in: rev 5.0
        (d(1997, 12, 31, 23, 59, 59), 0.07, 1.0, 200.0),    # in: rev 14.0
        (d(1998, 1, 1, 0, 0, 0), 0.06, 1.0, 1000.0),        # out: date upper
        (d(1996, 12, 31), 0.06, 1.0, 1000.0),               # out: date lower
        (d(1997, 6, 1), 0.0499, 1.0, 1000.0),               # out: below band
        (d(1997, 6, 1), 0.0701, 1.0, 1000.0),               # out: above band
        (d(1997, 6, 1), 0.06, 24.0, 1000.0),                # out: qty == 24
        (d(1997, 6, 1), None, 1.0, 1000.0),                 # out: NULL discount
    ]
    crafted.write(spark, tmp_path, "lineitem", rows, _LI6)
    want = [(19.0,)]  # 100*0.05 + 200*0.07
    got = [tuple(r) for r in q6_forecast_revenue(spark, str(tmp_path)).collect()]
    assert got == want
    spec = all_specs()["q6_forecast_revenue"]
    assert crafted.oracle(tmp_path, ("lineitem",), spec.sql) == want


def test_q18_having_boundary_and_null_qty_both_engines(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "orders",
        [(1, 10, "O"), (2, 10, "O"), (3, 20, "F")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (1, 150.0), (1, 150.0),          # exactly 300 -> strict > excludes
            (2, 300.5),                      # 300.5 -> included
            (3, 100.0), (3, None), (3, 201.0),  # NULL skipped: 301 -> included
        ],
        "l_orderkey long, l_quantity double",
    )
    want = sorted([(2, 10, 300.5), (3, 20, 301.0)])
    got = sorted(tuple(r) for r in q18_large_orders(spark, str(tmp_path)).collect())
    assert got == want
    spec = all_specs()["q18_large_orders"]
    assert sorted(crafted.oracle(tmp_path, ("orders", "lineitem"), spec.sql)) == want


_LI14 = "l_partkey long, l_shipdate timestamp, l_extendedprice double, l_discount double"
_PART14 = "p_partkey long, p_type string"


def test_q14_zero_total_revenue_is_null_both_engines(spark, tmp_path):
    """The r11 find: an all-zero-price ship month used to DIVIDE_BY_ZERO
    on Spark (ANSI) while DuckDB emitted its div-by-zero NULL. Contract:
    the promo share of a zero total is NULL on both engines."""
    d = dt.datetime
    crafted.write(
        spark, tmp_path, "lineitem",
        [(1, d(1997, 9, 5), 0.0, 0.0), (2, d(1997, 9, 6), 0.0, 0.1)],
        _LI14,
    )
    crafted.write(spark, tmp_path, "part", [(1, "PROMO X"), (2, "STD Y")], _PART14)
    got = [tuple(r) for r in q14_promo_revenue_share(spark, str(tmp_path)).collect()]
    assert got == [(None,)]
    spec = all_specs()["q14_promo_revenue_share"]
    assert crafted.oracle(tmp_path, ("lineitem", "part"), spec.sql) == [(None,)]


def test_q14_share_and_empty_window_both_engines(spark, tmp_path):
    """Normal share hand-walked (promo 90 of total 240 = 37.5%), and an
    empty ship month (sum NULL) stays NULL rather than crashing or
    printing 0."""
    d = dt.datetime
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (1, d(1997, 9, 10), 100.0, 0.1),   # promo: 90.0
            (2, d(1997, 9, 11), 150.0, 0.0),   # std: 150.0
            (1, d(1997, 10, 1), 999.0, 0.0),   # outside the month (upper edge)
            (1, d(1997, 8, 31, 23, 59, 59), 999.0, 0.0),  # outside (below)
        ],
        _LI14,
    )
    crafted.write(spark, tmp_path, "part", [(1, "PROMO X"), (2, "STD Y")], _PART14)
    want = [(37.5,)]  # floor(100*90/240*10000+0.5)/10000
    got = [tuple(r) for r in q14_promo_revenue_share(spark, str(tmp_path)).collect()]
    assert got == want
    spec = all_specs()["q14_promo_revenue_share"]
    assert crafted.oracle(tmp_path, ("lineitem", "part"), spec.sql) == want

    # empty window: nothing ships in 1997-09
    crafted.write(
        spark, tmp_path, "lineitem",
        [(1, d(1990, 1, 1), 5.0, 0.0)],
        _LI14,
    )
    got = [tuple(r) for r in q14_promo_revenue_share(spark, str(tmp_path)).collect()]
    assert got == [(None,)]
    assert crafted.oracle(tmp_path, ("lineitem", "part"), spec.sql) == [(None,)]


def test_range_band_ties_and_null_peers_both_engines(spark, tmp_path):
    """RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW: equal prices are
    PEERS (each counts the other — CURRENT ROW closes the peer group in
    RANGE mode), the NULL-price rows form their own peer group (both
    count 2), and a lone row in another partition counts itself."""
    rows = [
        (1, 10, 100.0), (2, 10, 100.0),      # tie peers
        (3, 10, 9000.0),                     # 9000-10000 <= 100 -> count 3
        (4, 10, None), (5, 10, None),        # NULL peer group
        (6, 10, 20000.0),                    # band floor 10000: alone
        (7, 20, 50.0),                       # separate partition
    ]
    crafted.write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    want = sorted(
        [(10, 1, 2), (10, 2, 2), (10, 3, 3), (10, 4, 2), (10, 5, 2), (10, 6, 1), (20, 7, 1)],
        key=lambda t: t[1],
    )
    got = sorted(
        (tuple(r) for r in window_range_price_band(spark, str(tmp_path)).collect()),
        key=lambda t: t[1],
    )
    assert got == want
    spec = all_specs()["window_range_price_band"]
    assert sorted(
        crafted.oracle(tmp_path, ("orders",), spec.sql), key=lambda t: t[1]
    ) == want


def test_q8_zero_volume_year_is_null_both_engines(spark, tmp_path):
    """The q14 class, found by the r11 division audit: a year whose ASIA
    ECONOMY volume sums to zero (all-zero-price rows) made the unguarded
    share throw ANSI DIVIDE_BY_ZERO on Spark. Contract: NULL share for a
    zero-volume year; a normal year still computes (NATION_3 share of
    200 out of 250 = 0.8)."""
    from mapreduce_docker_spark.operators.tpch_queries import q8_market_share

    d = dt.datetime
    crafted.write(spark, tmp_path, "part", [(1, "ECONOMY")], "p_partkey long, p_type string")
    crafted.write(
        spark, tmp_path, "supplier",
        [(1, 3), (2, 4)],
        "s_suppkey long, s_nationkey int",
    )
    crafted.write(
        spark, tmp_path, "customer", [(1, 5)], "c_custkey long, c_nationkey int"
    )
    crafted.write(
        spark, tmp_path, "nation",
        [(3, "NATION_3", 9), (4, "NATION_4", 9), (5, "NATION_5", 7)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    crafted.write(
        spark, tmp_path, "region",
        [(7, "ASIA"), (9, "EUROPE")],
        "r_regionkey int, r_name string",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(10, 1, d(1996, 6, 1)), (11, 1, d(1997, 6, 1))],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            # 1996: all-zero volume -> NULL share
            (10, 1, 1, 0.0, 0.0),
            (10, 1, 2, 0.0, 0.5),
            # 1997: NATION_3 supplier ships 200, NATION_4 ships 50
            (11, 1, 1, 200.0, 0.0),
            (11, 1, 2, 50.0, 0.0),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_extendedprice double, l_discount double",
    )
    want = sorted([(1996, None), (1997, 0.8)])
    got = sorted(tuple(r) for r in q8_market_share(spark, str(tmp_path)).collect())
    assert got == want
    spec = all_specs()["q8_market_share"]
    assert sorted(
        crafted.oracle(
            tmp_path,
            ("part", "supplier", "customer", "nation", "region", "orders", "lineitem"),
            spec.sql,
        )
    ) == want


def test_full_outer_balances_dangling_sides_both_engines(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "customer",
        [
            (1, 1, 10.0), (2, 1, 20.0), (3, 1, None),  # nation 1: 30.0 (NULL skipped)
            (4, None, 99.0),                           # NULL nation key: dangles
            (5, 4, 1.0),                               # nation 4: not in dim
        ],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "supplier",
        [(1, 2, 5.0), (2, None, 77.0)],
        "s_suppkey long, s_nationkey int, s_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "nation",
        [(1, "A", 0), (2, "B", 0), (3, "C", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    # nation 1: customers only; nation 2: suppliers only; nation 3: neither
    # side -> absent; NULL keys never match and the inner nation join
    # drops both dangles; nation 4 has no dim row
    want = sorted([(1, 30.0, None), (2, None, 5.0)])
    got = sorted(
        tuple(r) for r in join_full_outer_balances(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["join_full_outer_balances"]
    assert sorted(
        crafted.oracle(tmp_path, ("customer", "supplier", "nation"), spec.sql)
    ) == want
