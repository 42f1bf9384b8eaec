"""Twenty-ninth batch — hand truths pre-written for the r11 rotation
cohort (the 31 r6-era names that did not fit the r10 window), same
hand-truth-first discipline: fixtures at the cut lines BEFORE the driver
re-certifies the names next round.

* ntile's remainder rule: 6 rows / 4 buckets -> sizes 2,2,1,1 (the first
  n mod k buckets take the extra row), deterministic under the total
  (balance, custkey) order;
* row_number vs rank vs dense_rank on a price tie, and WHICH of two
  rank-3 twins survives the rn <= 3 cut (the orderkey tiebreak);
* set-op semantics: EXCEPT collapses duplicates and removes on ANY
  right-side match, INTERSECT dedups, UNION dedups a row matching both
  branches, UNION ALL by-name keeps both branch rows;
* Q18's HAVING sum > 300 is STRICT and compares the RAW sum (a group at
  exactly 300 is out);
* Q6's edges: discount BETWEEN inclusive at both ends, quantity < 24
  strict, shipdate half-open year;
* Q12's NOT IN with a NULL priority: three-valued logic puts the NULL
  row in NEITHER the high nor the low count;
* scalar 3VL: nullif/coalesce/null-safe equality/CASE-without-ELSE.
"""

from __future__ import annotations

import datetime as dt

import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    q12_shipmode_priority,
    q18_large_orders,
    q6_forecast_revenue,
    scalar_null_semantics,
    setop_except_statuses,
    setop_intersect_statuses,
    setop_union_by_name,
    setop_union_segments,
    window_ntile_balance_quartiles,
    window_top3_orders_per_customer,
)


def _customers(spark, tmp_path, rows):
    crafted.write(
        spark, tmp_path, "customer",
        rows,
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )


def test_ntile_remainder_buckets(spark, tmp_path):
    """6 rows into 4 quartiles: ntile gives the FIRST n mod k = 2 buckets
    3 rows? No — sizes are ceil spread: 2,2,1,1. Balances 10..60 in
    custkey order, so bucket membership is fully determined: q1={10,20},
    q2={30,40}, q3={50}, q4={60}."""
    rows = [(i, "S", 10.0 * i) for i in range(1, 7)]
    _customers(spark, tmp_path, rows)
    got = {
        r["q"]: (r["n"], r["avg_bal"])
        for r in window_ntile_balance_quartiles(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 15.0),
        2: (2, 35.0),
        3: (1, 50.0),
        4: (1, 60.0),
    }


def test_top3_rank_family_on_price_tie(spark, tmp_path):
    """Customer 1 has four orders priced 100, 90, 90, 80 — but the window
    orders by (price DESC, orderkey ASC), a TOTAL order (the T4 tie-
    determinism discipline), so rank() and dense_rank() see NO tie: the
    two 90-priced rows get ranks 2 and 3, not 2 and 2. Pinning (3,3,3)
    for orderkey 13 is the point — a naive reading expects (3,2,2), and
    textbook rank-vs-dense_rank divergence would reappear (and break the
    driver hash) only if someone dropped the orderkey tiebreak from the
    window. The rn <= 3 cut keeps 11,12,13."""
    orders = [
        (11, 1, 100.0),
        (12, 1, 90.0),
        (13, 1, 90.0),
        (14, 1, 80.0),
    ]
    crafted.write(
        spark, tmp_path, "orders",
        orders,
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    got = {
        r["o_orderkey"]: (r["rn"], r["rnk"], r["drnk"])
        for r in window_top3_orders_per_customer(spark, str(tmp_path)).collect()
    }
    assert got == {11: (1, 1, 1), 12: (2, 2, 2), 13: (3, 3, 3)}


def test_setop_semantics_quartet(spark, tmp_path):
    """One fixture, four set operators: customer 1 has two 'O' orders and
    one 'F' (EXCEPT removes despite left multiplicity 2), customer 2 is
    'O'-only twice (EXCEPT emits ONCE — set semantics), customer 3 is
    'F'-only, customer 4 has one of each (INTERSECT emits once)."""
    orders = [
        (1, 1, "O", "1-URGENT"),
        (2, 1, "O", "1-URGENT"),
        (3, 1, "F", "1-URGENT"),
        (4, 2, "O", "3-MEDIUM"),
        (5, 2, "O", "3-MEDIUM"),
        (6, 3, "F", "5-LOW"),
        (7, 4, "O", "5-LOW"),
        (8, 4, "F", "2-HIGH"),
    ]
    crafted.write(
        spark, tmp_path, "orders",
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string",
    )
    got_except = sorted(
        r["o_custkey"] for r in setop_except_statuses(spark, str(tmp_path)).collect()
    )
    assert got_except == [2]  # 1 and 4 have an 'F'; 2's dup collapses
    got_intersect = sorted(
        r["o_custkey"]
        for r in setop_intersect_statuses(spark, str(tmp_path)).collect()
    )
    assert got_intersect == [1, 4]


def test_setop_union_dedup_and_by_name(spark, tmp_path):
    """UNION dedups the customer matching BOTH branches (BUILDING and
    bal > 9000); UNION ALL by name keeps one row per branch with the
    kind tag."""
    _customers(
        spark,
        tmp_path,
        [
            (1, "BUILDING", 9500.0),   # both branches -> once
            (2, "BUILDING", 100.0),    # segment only
            (3, "MACHINERY", 9800.0),  # balance only
            (4, "MACHINERY", -5.0),    # neither; negative for by_name
        ],
    )
    crafted.write(
        spark, tmp_path, "supplier",
        [(7, -1.0), (8, 3.0)],
        "s_suppkey long, s_acctbal double",
    )
    got_union = sorted(
        r["c_custkey"] for r in setop_union_segments(spark, str(tmp_path)).collect()
    )
    assert got_union == [1, 2, 3]
    got_by_name = sorted(
        (r["kind"], r["entity_key"])
        for r in setop_union_by_name(spark, str(tmp_path)).collect()
    )
    assert got_by_name == [("customer", 4), ("supplier", 7)]


def test_q18_having_strictly_greater(spark, tmp_path):
    """HAVING sum(l_quantity) > 300 on the RAW sum: a 300.0-exactly group
    is OUT, 300.5 is in (integer-exact halves, no float ambiguity)."""
    crafted.write(
        spark, tmp_path, "orders",
        [(1, 10), (2, 10), (3, 11)],
        "o_orderkey long, o_custkey long",
    )
    li = [
        (1, 150.0), (1, 150.0),        # exactly 300 -> excluded
        (2, 150.0), (2, 150.5),        # 300.5 -> included
        (3, 299.0),                    # below -> excluded
    ]
    crafted.write(spark, tmp_path, "lineitem", li, "l_orderkey long, l_quantity double")
    got = [
        (r["o_orderkey"], r["o_custkey"], r["total_qty"])
        for r in q18_large_orders(spark, str(tmp_path)).collect()
    ]
    assert got == [(2, 10, 300.5)]


def test_q6_all_four_edges(spark, tmp_path):
    """Revenue = sum(price * discount) over: shipdate in [1997-01-01,
    1998-01-01) — both year edges walked; discount BETWEEN 0.05 AND 0.07
    inclusive at BOTH ends (0.0625 and 0.0703125 are dyadic so the
    bounds compare exactly; rows use in-range dyadics); quantity < 24
    strict. Kept rows: 100*0.0625 + 200*0.0625 = 18.75."""
    d = dt.datetime
    li = [
        # (shipdate, quantity, price, discount) -> kept?
        (d(1997, 1, 1), 10.0, 100.0, 0.0625),    # first instant: kept
        (d(1997, 12, 31), 23.0, 200.0, 0.0625),  # kept
        (d(1998, 1, 1), 10.0, 100.0, 0.0625),    # half-open end: out
        (d(1996, 12, 31), 10.0, 100.0, 0.0625),  # before: out
        (d(1997, 6, 1), 24.0, 100.0, 0.0625),    # quantity strict: out
        (d(1997, 6, 1), 10.0, 100.0, 0.046875),  # discount below: out
        (d(1997, 6, 1), 10.0, 100.0, 0.078125),  # discount above: out
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        [(i, *row) for i, row in enumerate(li)],
        "l_orderkey long, l_shipdate timestamp, l_quantity double, "
        "l_extendedprice double, l_discount double",
    )
    out = q6_forecast_revenue(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["revenue"] == 18.75


def test_q12_not_in_with_null_priority(spark, tmp_path):
    """Three-valued logic: a line whose order has a NULL o_orderpriority
    satisfies NEITHER `IN ('1-URGENT','2-HIGH')` NOR `NOT IN (...)` —
    both CASEs yield 0, so the line is counted in neither column while
    still contributing to the group's existence."""
    d = dt.datetime
    crafted.write(
        spark, tmp_path, "orders",
        [(1, "1-URGENT"), (2, "5-LOW"), (3, None)],
        "o_orderkey long, o_orderpriority string",
    )
    li = [
        (1, "F", d(1997, 3, 1)),
        (2, "F", d(1997, 3, 1)),
        (3, "F", d(1997, 3, 1)),   # NULL priority: in neither count
        (1, "O", d(1998, 3, 1)),   # outside the date window: dropped
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        li,
        "l_orderkey long, l_linestatus string, l_shipdate timestamp",
    )
    got = {
        r["l_linestatus"]: (r["high_line_count"], r["low_line_count"])
        for r in q12_shipmode_priority(spark, str(tmp_path)).collect()
    }
    assert got == {"F": (1, 1)}  # urgent=1, low=1, NULL in neither


def test_scalar_null_semantics_truth_table(spark, tmp_path):
    """nullif/coalesce/null-safe-equality/CASE-without-ELSE walked on the
    three interesting rows: the BUILDING segment (nullif fires), a zero
    balance (nullif to NULL -> IS NULL true), and a negative balance
    (no CASE branch -> NULL band). selfsame must be TRUE even when both
    sides are NULL — that is what null-safe equality IS."""
    _customers(
        spark,
        tmp_path,
        [
            (1, "BUILDING", 0.0),
            (2, "AUTOMOBILE", 6000.0),
            (3, "MACHINERY", -10.0),
        ],
    )
    got = {
        r["c_custkey"]: (
            r["seg_or_null"],
            r["seg_filled"],
            r["zero_bal"],
            r["selfsame"],
            r["band_or_null"],
        )
        for r in scalar_null_semantics(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (None, "N/A", True, True, None),          # NULL <=> NULL is TRUE
        2: ("AUTOMOBILE", "AUTOMOBILE", False, True, "high"),
        3: ("MACHINERY", "MACHINERY", False, True, None),  # no branch -> NULL
    }
