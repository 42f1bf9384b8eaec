"""Twenty-sixth batch of hand-computed truths — the correlated-threshold
and constraint-check members of the r10 rotation window (judge-r9
next-round #3), fixtures built at the cut lines:

* Q2: TWO suppliers tied at the per-part minimum unit cost must BOTH be
  emitted; the minimum is taken over EUROPE suppliers only, so a cheaper
  non-EU offer must not suppress them; p_size BETWEEN is inclusive at
  both edges;
* Q22: a customer whose balance equals the positive-balance average
  EXACTLY is excluded (strict >), an above-average customer WITH orders
  is anti-joined away, and the zero-balance customer never enters the
  average (strict > 0);
* winsorized stats: values exactly AT the rounded P5/P95 are kept
  unclamped (strict < / >), interpolated two-point percentiles clamp
  BOTH members of a two-row group;
* key-skew report: six keys tied at the same count cut at rank 5 by the
  key-ascending tiebreak;
* basket lift: duplicate (order, part) lines collapse before support
  counts, and a pair seen once falls below the >= 2 co-order floor.
"""

from __future__ import annotations

import datetime as dt

import crafted
from mapreduce_docker_spark.operators.profile_queries import (
    SKEW_TOP_K,
    dq_key_skew_report,
)
from mapreduce_docker_spark.operators.relational_queries import (
    BASKET_MIN_PAIR,
    agg_winsorized_value_stats,
    basket_part_pairs_lift,
    q22_global_sales_opportunity,
)
from mapreduce_docker_spark.operators.tpch_queries import q2_min_cost_supplier


def test_q2_min_cost_tie_and_region_scope(spark, tmp_path):
    """Part 1's EU minimum unit cost is 5.0, reached by BOTH s1 (10.0/2)
    and s2 (20.0/4) — two output rows, not an arbitrary survivor. The
    ASIA supplier's 4.0 offer is cheaper but out of scope (the min runs
    AFTER the region join). s1's second, worse line (12.0/2 = 6.0) folds
    into the per-(part, supplier) min first. Part 4 checks the p_size 15
    inclusive edge; parts 2 (size 16) and 3 (type SMALL) never qualify."""
    crafted.write(
        spark, tmp_path, "region",
        [(0, "EUROPE"), (1, "ASIA")],
        "r_regionkey int, r_name string",
    )
    crafted.write(
        spark, tmp_path, "nation",
        [(0, "GERMANY", 0), (1, "CHINA", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    crafted.write(
        spark, tmp_path, "supplier",
        [
            (1, "Supplier#1", 0, 1000.0),
            (2, "Supplier#2", 0, 2000.0),
            (3, "Supplier#3", 0, 1500.0),
            (4, "Supplier#4", 1, 9000.0),  # ASIA: out of scope
        ],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "part",
        [
            (1, "part one", "LARGE", 12),
            (2, "part two", "LARGE", 16),   # size out of [10, 15]
            (3, "part three", "SMALL", 10),  # type mismatch
            (4, "part four", "LARGE", 15),   # inclusive upper edge
        ],
        "p_partkey long, p_name string, p_type string, p_size int",
    )
    li = [
        # (orderkey, partkey, suppkey, quantity, extendedprice)
        (1, 1, 1, 2.0, 10.0),   # unit 5.0  <- tied min
        (2, 1, 1, 2.0, 12.0),   # unit 6.0  (folds into s1's min)
        (3, 1, 2, 4.0, 20.0),   # unit 5.0  <- tied min
        (4, 1, 3, 2.0, 11.0),   # unit 5.5  (loses)
        (5, 1, 4, 1.0, 4.0),    # unit 4.0 but ASIA: excluded pre-min
        (6, 4, 3, 2.0, 8.0),    # part 4: unit 4.0, sole EU offer
        (7, 2, 1, 1.0, 1.0),    # part 2 never qualifies
        (8, 3, 1, 1.0, 1.0),    # part 3 never qualifies
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_quantity double, l_extendedprice double",
    )
    got = [
        (r["s_acctbal"], r["s_name"], r["n_name"], r["p_partkey"], r["unit_cost"])
        for r in q2_min_cost_supplier(spark, str(tmp_path)).collect()
    ]
    # ordered by acctbal desc, nation, supplier, part
    assert got == [
        (2000.0, "Supplier#2", "GERMANY", 1, 5.0),
        (1500.0, "Supplier#3", "GERMANY", 4, 4.0),
        (1000.0, "Supplier#1", "GERMANY", 1, 5.0),
    ]


def test_q22_threshold_exactly_at_average(spark, tmp_path):
    """Positive balances are 100, 224, 300, 200, 280, 240 -> average
    EXACTLY 224 (1344/6, integer-exact in IEEE). Customer 2 sits AT the
    average and is excluded by the strict >. Customer 7 (280) clears it
    but owns an order — anti-joined away. Customers 3 (300, tag 31) and
    8 (240, tag 13) survive. The zero- and negative-balance customers
    never enter the average (strict > 0 filter)."""
    custs = [
        (1, "Customer#130000001", 100.0),
        (2, "Customer#130000002", 224.0),   # == avg: strict > excludes
        (3, "Customer#310000003", 300.0),   # kept, tag 31
        (4, "Customer#130000004", 0.0),     # excluded from the average
        (5, "Customer#310000005", 200.0),
        (6, "Customer#310000006", -50.0),   # excluded from the average
        (7, "Customer#310000007", 280.0),   # has an order: anti-joined
        (8, "Customer#130000008", 240.0),   # kept, tag 13
    ]
    crafted.write(
        spark, tmp_path, "customer",
        custs,
        "c_custkey long, c_name string, c_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(100, 7)],
        "o_orderkey long, o_custkey long",
    )
    got = {
        r["name_tag"]: (r["n_custs"], r["total_bal"])
        for r in q22_global_sales_opportunity(spark, str(tmp_path)).collect()
    }
    assert got == {"31": (1, 300.0), "13": (1, 240.0)}


def test_winsorize_strict_inequality_at_the_cuts(spark, tmp_path):
    """Type a: values 0..20, interpolated P5 = 1.0 and P95 = 19.0 land ON
    member values; only 0 and 20 clamp (strict < / >), the values AT the
    cuts stay raw, and the winsorized mean comes out exactly 10.0
    ((210 - 0 - 20 + 1 + 19) / 21). Type b: a two-row group where BOTH
    rows clamp to the interpolated cuts 4.2 / 7.8."""
    rows = [("a", float(v)) for v in range(21)] + [("b", 4.0), ("b", 8.0)]
    crafted.write(spark, tmp_path, "events", rows, "event_type string, value double")
    got = {
        r["event_type"]: (
            r["n"],
            r["n_clamped"],
            r["winsorized_mean"],
            r["winsorized_min"],
            r["winsorized_max"],
        )
        for r in agg_winsorized_value_stats(spark, str(tmp_path)).collect()
    }
    assert got == {
        "a": (21, 2, 10.0, 1.0, 19.0),
        "b": (2, 2, crafted.r((4.2 + 7.8) / 2, 4), 4.2, 7.8),
    }


def test_key_skew_rank5_cut_under_full_tie(spark, tmp_path):
    """events.user_id has SIX keys all at n = 2: the top-5 window must cut
    deterministically at the key-ascending tiebreak (keys 1..5 kept, key
    6 dropped). orders/lineitem pin the share arithmetic on skewed and
    single-key columns."""
    assert SKEW_TOP_K == 5
    t = dt.datetime(2024, 1, 1)
    ev = [(100 * u + i, u, t) for u in range(1, 7) for i in range(2)]
    crafted.write(
        spark, tmp_path, "events",
        ev,
        "event_id long, user_id long, ts timestamp",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(1, 7), (2, 7), (3, 7)],
        "o_orderkey long, o_custkey long",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [(1, 11), (2, 11), (3, 11), (4, 12)],
        "l_orderkey long, l_partkey long",
    )
    got = {
        (r["key_col"], r["rnk"]): (r["key"], r["n"], r["share"])
        for r in dq_key_skew_report(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("events.user_id", 1): (1, 2, crafted.r(2 / 12, 6)),
        ("events.user_id", 2): (2, 2, crafted.r(2 / 12, 6)),
        ("events.user_id", 3): (3, 2, crafted.r(2 / 12, 6)),
        ("events.user_id", 4): (4, 2, crafted.r(2 / 12, 6)),
        ("events.user_id", 5): (5, 2, crafted.r(2 / 12, 6)),
        ("orders.o_custkey", 1): (7, 3, 1.0),
        ("lineitem.l_partkey", 1): (11, 3, 0.75),
        ("lineitem.l_partkey", 2): (12, 1, 0.25),
    }


def test_basket_lift_distinct_collapse_and_pair_floor(spark, tmp_path):
    """Order 1 lists part 1 TWICE — the (order, part) relation collapses
    to distinct before anything counts, so p1's support is 3 (not 4) and
    lift comes out exactly 1.0 for the (p1, p2) pair: 2 co-orders * 3
    orders / (3 * 2). The (p1, p3) pair co-occurs once, below the
    >= 2 floor."""
    assert BASKET_MIN_PAIR == 2
    li = [
        (1, 1), (1, 1), (1, 2),   # duplicate p1 line in order 1
        (2, 1), (2, 2),
        (3, 1), (3, 3),
    ]
    crafted.write(spark, tmp_path, "lineitem", li, "l_orderkey long, l_partkey long")
    got = [
        (r["part_a"], r["part_b"], r["n_both"], r["n_a"], r["n_b"], r["lift"])
        for r in basket_part_pairs_lift(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 2, 2, 3, 2, 1.0)]
