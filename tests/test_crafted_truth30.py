"""Thirtieth batch — the scalar-function and join members of the r11
cohort, hand-walked where the conventions bite:

* date surface: the Sunday=1 day-of-week convention (DuckDB's 0-based
  dayofweek carries a +1 in the oracle — pin the Spark side to the
  absolute truth for a known Sunday/Monday), quarter boundaries, and a
  NEGATIVE day diff for a date before the 1995-01-01 anchor;
* levenshtein: the <= 7 threshold inclusive at exactly 7, and a
  distance-8 pair provably out;
* the ceil float trap: ceil(0.07 * 100) is 8, not 7 — 0.07 has no exact
  double, 0.07*100 = 7.000000000000001 on BOTH engines, and the hand
  truth pins the surprising-but-consistent value (a dyadic 0.0625 gives
  the unsurprising 7);
* cross-grid completeness: a region with no orders still carries a row
  per priority (count 0), and a priority that exists only on an order
  with a dangling custkey still becomes a grid column;
* Q14 promo share on exact halves + the September half-open window;
* the pandas-UDF tanh saturation recomputed from math.tanh;
* DISTINCT over a NULL status: (customer, NULL) is one pair.
"""

from __future__ import annotations

import datetime as dt
import math

import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    distinct_customer_status_pairs,
    join_cross_region_priority_grid,
    q14_promo_revenue_share,
    scalar_date_orders,
    scalar_levenshtein_nations,
    scalar_math_lineitem,
)
from mapreduce_docker_spark.operators.udf_queries import udf_pandas_saturation


def test_date_surface_conventions(spark, tmp_path):
    """2024-01-07 was a SUNDAY (dow_sun1 = 1), the 8th a Monday (2);
    March 31 is still Q1 and April 1 opens Q2; a 1994-12-31 order is one
    day BEFORE the anchor (diff -1)."""
    d = dt.datetime
    orders = [
        (1, d(2024, 1, 7)),    # Sunday
        (2, d(2024, 1, 8)),    # Monday
        (3, d(2024, 3, 31)),   # Q1 last day
        (4, d(2024, 4, 1)),    # Q2 first day
        (5, d(1994, 12, 31)),  # before the anchor
    ]
    crafted.write(
        spark, tmp_path, "orders",
        orders,
        "o_orderkey long, o_orderdate timestamp",
    )
    got = {
        r["o_orderkey"]: (
            r["o_year"],
            r["o_month"],
            r["o_quarter"],
            r["dow_sun1"],
            str(r["month_start"]),
            r["days_since_epoch_start"],
        )
        for r in scalar_date_orders(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2024, 1, 1, 1, "2024-01-01 00:00:00", 10598),
        2: (2024, 1, 1, 2, "2024-01-01 00:00:00", 10599),
        3: (2024, 3, 1, 1, "2024-03-01 00:00:00", 10682),  # Sunday, Q1
        4: (2024, 4, 2, 2, "2024-04-01 00:00:00", 10683),  # Monday, Q2
        5: (1994, 12, 4, 7, "1994-12-01 00:00:00", -1),    # Saturday, diff -1
    }


def test_levenshtein_threshold_inclusive_at_7(spark, tmp_path):
    """ALPHA->ALPHAAAAAAAA needs exactly 7 inserts (kept, the inclusive
    edge); ALPHB->ALPHAAAAAAAA needs 8 (dropped); the 13-distance pairs
    to the Z name are all out."""
    nations = [
        (0, "ALPHA"),
        (1, "ALPHB"),
        (2, "ALPHAAAAAAAA"),
        (3, "ZZZZZZZZZZZZZ"),
    ]
    crafted.write(spark, tmp_path, "nation", nations, "n_nationkey int, n_name string")
    got = sorted(
        (r["name_a"], r["name_b"], r["edit_dist"])
        for r in scalar_levenshtein_nations(spark, str(tmp_path)).collect()
    )
    assert got == [
        ("ALPHA", "ALPHAAAAAAAA", 7),
        ("ALPHA", "ALPHB", 1),
    ]


def test_math_ceil_float_trap(spark, tmp_path):
    """ceil(l_discount * 100): 0.07 has no exact double — 0.07 * 100
    computes 7.000000000000001 identically on both engines, so the ceil
    is 8. The dyadic 0.0625 gives the unsurprising 7. A truth that
    'fixed' this to 7 would be WRONG on both engines at once."""
    li = [
        # (orderkey, linenumber, qty, price, discount, tax)
        (7, 1, 4.0, 1000.0, 0.07, 0.0625),
        (8, 2, 9.0, 500.0, 0.0625, 0.25),
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        li,
        "l_orderkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double",
    )
    got = {
        r["l_orderkey"]: (
            r["net_price"],
            r["dist_from_1k"],
            r["qty_sqrt"],
            r["qty_sq"],
            r["price_ln"],
            r["disc_pct_ceil"],
            r["tax_pct_floor"],
            r["key_mod7"],
        )
        for r in scalar_math_lineitem(spark, str(tmp_path)).collect()
    }
    assert got == {
        7: (
            crafted.r(1000.0 * (1 - 0.07), 2),   # 930.0
            0.0,
            2.0,
            16.0,
            crafted.r(math.log(1000.0), 6),
            8,                            # THE trap: ceil(7.000000000000001)
            6,                            # floor(6.25)
            0,
        ),
        8: (
            crafted.r(500.0 * (1 - 0.0625), 2),  # 468.75
            500.0,
            3.0,
            81.0,
            crafted.r(math.log(500.0), 6),
            7,                            # dyadic: ceil(6.25) = 7
            25,                           # floor(25.0) exactly
            1,
        ),
    }


def test_cross_grid_is_complete_with_zero_cells(spark, tmp_path):
    """EUROPE has no customers at all yet still gets a row per priority
    with n_orders 0; priority 9-GHOST exists only on an order whose
    custkey matches no customer, so it becomes a grid COLUMN with zero
    counts everywhere."""
    crafted.write(
        spark, tmp_path, "region",
        [(0, "AMERICA"), (1, "EUROPE")],
        "r_regionkey int, r_name string",
    )
    crafted.write(
        spark, tmp_path, "nation",
        [(0, "BRAZIL", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    crafted.write(
        spark, tmp_path, "customer",
        [(1, 0)],
        "c_custkey long, c_nationkey int",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [
            (10, 1, "1-URGENT"),
            (11, 1, "1-URGENT"),
            (12, 999, "9-GHOST"),  # dangling custkey: axis only
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    got = {
        (r["r_name"], r["o_orderpriority"]): r["n_orders"]
        for r in join_cross_region_priority_grid(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("AMERICA", "1-URGENT"): 2,
        ("AMERICA", "9-GHOST"): 0,
        ("EUROPE", "1-URGENT"): 0,
        ("EUROPE", "9-GHOST"): 0,
    }


def test_q14_promo_share_exact_halves(spark, tmp_path):
    """Promo net 100, non-promo net 150 -> share 100*100/250 = 40.0; the
    October 1st promo line sits on the half-open end and must not move
    it."""
    d = dt.datetime
    crafted.write(
        spark, tmp_path, "part",
        [(1, "PROMO BURNISHED"), (2, "STANDARD PLATED")],
        "p_partkey long, p_type string",
    )
    li = [
        (1, 1, d(1997, 9, 15), 100.0, 0.0),   # promo net 100
        (2, 2, d(1997, 9, 20), 300.0, 0.5),   # other net 150
        (3, 1, d(1997, 10, 1), 900.0, 0.0),   # boundary: out
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        li,
        "l_orderkey long, l_partkey long, l_shipdate timestamp, "
        "l_extendedprice double, l_discount double",
    )
    out = q14_promo_revenue_share(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["promo_share_pct"] == 40.0


def test_saturation_matches_math_tanh(spark, tmp_path):
    """The Arrow-vectorized pandas UDF is tanh(len/500) rounded at 6dp —
    recomputed here from math.tanh for an empty, a 250-char and a
    1000-char document."""
    docs = [(1, ""), (2, "x" * 250), (3, "y" * 1000)]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["saturation"]
        for r in udf_pandas_saturation(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: 0.0,
        2: round(math.tanh(250 / 500.0), 6),   # 0.462117
        3: round(math.tanh(1000 / 500.0), 6),  # 0.964028
    }


def test_distinct_pairs_dedup_null_status(spark, tmp_path):
    """DISTINCT treats NULL as one value: two NULL-status orders for
    customer 1 collapse to a single (1, NULL) pair beside (1, 'O')."""
    crafted.write(
        spark, tmp_path, "orders",
        [(1, 1, None), (2, 1, None), (3, 1, "O"), (4, 2, "F")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )
    got = sorted(
        (
            (r["o_custkey"], r["o_orderstatus"])
            for r in distinct_customer_status_pairs(spark, str(tmp_path)).collect()
        ),
        key=lambda t: (t[0], t[1] or ""),
    )
    assert got == [(1, None), (1, "O"), (2, "F")]
