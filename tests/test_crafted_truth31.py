"""Thirty-first batch — hand truths ahead of the r7-era cohort's r12
rotation (the hand-truth-first discipline, two rounds ahead): the
members with no crafted coverage whose semantics carry conventions a
fixture can silently get wrong.

* exact percentiles: INTERPOLATED median/p90 on an even-count group
  (median of {10, 20} is 15, p90 is 19 — a nearest-rank implementation
  would say 20 for both);
* pivot: a segment with no 'P' orders carries an explicit 0 cell, not a
  NULL (the static explicit-value-list pivot);
* unpivot: a nation with no customers AND no suppliers still emits both
  kind rows at 0.0 (coalesce precedes the melt);
* exact-dedup survivorship: the fingerprint is over the TOKENIZED text,
  so case/punctuation variants collapse and the MIN doc_id survives;
  all zero-token docs share one fingerprint;
* theta band join: |gap| < 10.0 STRICT at the band edge, nation-scoped;
* Q10: only 'R' lineitems count, and the top-20 order breaks a revenue
  tie by ascending custkey.
"""

from __future__ import annotations


import crafted
from mapreduce_docker_spark.operators.dedup_queries import dedup_exact_survivors
from mapreduce_docker_spark.operators.relational_queries import (
    agg_percentiles_by_segment,
    agg_pivot_status_by_segment,
    agg_unpivot_balances,
    join_theta_acctbal_band,
    q10_returned_item_losses,
)


def test_percentiles_interpolate_on_even_counts(spark, tmp_path):
    """Two-row group: median = (10+20)/2 = 15 and p90 = 10 + 0.9*(20-10)
    = 19 — INTERPOLATED, not nearest-rank (which would report 20 for
    both). One-row group: both percentiles equal the value."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 7.5)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    got = {
        r["c_mktsegment"]: (r["median_bal"], r["p90_bal"])
        for r in agg_percentiles_by_segment(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (15.0, 19.0), "B": (7.5, 7.5)}


def test_pivot_zero_cell_not_null(spark, tmp_path):
    """BUILDING has F and O orders but no P: the P cell must be 0 (the
    explicit-value-list pivot with a zero-filled count), never NULL —
    the oracle's sum CASE arithmetic forces it."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, "BUILDING"), (2, "MACHINERY")],
        "c_custkey long, c_mktsegment string",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(10, 1, "F"), (11, 1, "F"), (12, 1, "O"), (13, 2, "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )
    got = {
        r["c_mktsegment"]: (r["F"], r["O"], r["P"])
        for r in agg_pivot_status_by_segment(spark, str(tmp_path)).collect()
    }
    assert got == {"BUILDING": (2, 1, 0), "MACHINERY": (0, 0, 1)}


def test_unpivot_emits_zero_rows_for_empty_nation(spark, tmp_path):
    """Nation 1 has neither customers nor suppliers: the left joins
    coalesce to 0.0 BEFORE the melt, so both kind rows exist at 0.0 —
    an unpivot that dropped NULLs before coalescing would lose them."""
    crafted.write(
        spark, tmp_path, "nation",
        [(0, "A", 0), (1, "B", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    crafted.write(
        spark, tmp_path, "customer",
        [(1, 0, 10.5), (2, 0, 4.5)],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "supplier",
        [(7, 0, 2.25)],
        "s_suppkey long, s_nationkey int, s_acctbal double",
    )
    got = {
        (r["n_nationkey"], r["kind"]): r["bal"]
        for r in agg_unpivot_balances(spark, str(tmp_path)).collect()
    }
    assert got == {
        (0, "customer_bal"): 15.0,
        (0, "supplier_bal"): 2.25,
        (1, "customer_bal"): 0.0,
        (1, "supplier_bal"): 0.0,
    }


def test_exact_survivors_tokenized_fingerprint_min_id(spark, tmp_path):
    """'Hello, WORLD!' and 'hello world' tokenize identically — one
    fingerprint, min doc_id 3 survives. The two zero-token docs ('' and
    '!!!') share the empty fingerprint: doc 1 survives. Doc 9 is alone."""
    docs = [
        (1, ""),
        (2, "!!!"),
        (3, "Hello, WORLD!"),
        (5, "hello world"),
        (9, "different entirely"),
    ]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = sorted(
        r["doc_id"] for r in dedup_exact_survivors(spark, str(tmp_path)).collect()
    )
    assert got == [1, 3, 9]


def test_theta_band_strict_edge_and_nation_scope(spark, tmp_path):
    """|s_acctbal - c_acctbal| < 10.0 STRICT: a 10.0 gap is out, 9.99 is
    in — and a 0.5 gap across DIFFERENT nations never joins."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, 0, 100.0), (2, 0, 110.0), (3, 0, 109.99), (4, 1, 100.5)],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "supplier",
        [(7, 0, 100.0)],
        "s_suppkey long, s_nationkey int, s_acctbal double",
    )
    got = sorted(
        (r["s_suppkey"], r["c_custkey"], r["bal_gap"])
        for r in join_theta_acctbal_band(spark, str(tmp_path)).collect()
    )
    # customer 2 (gap exactly 10.0) out; customer 4 other nation out
    assert got == [(7, 1, 0.0), (7, 3, 9.99)]


def test_q10_r_flag_filter_and_tie_order(spark, tmp_path):
    """Only returnflag 'R' lines lose revenue (customer 2's 'N' line is
    invisible), and the equal-revenue tie between customers 1 and 3
    orders by ascending custkey."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, "c1", 0), (2, "c2", 0), (3, "c3", 0)],
        "c_custkey long, c_name string, c_nationkey int",
    )
    crafted.write(
        spark, tmp_path, "nation",
        [(0, "GERMANY", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(10, 1), (20, 2), (30, 3)],
        "o_orderkey long, o_custkey long",
    )
    li = [
        (10, "R", 200.0, 0.5),   # c1: 100
        (20, "N", 500.0, 0.0),   # c2: not returned -> absent
        (30, "R", 100.0, 0.0),   # c3: 100 (tie with c1)
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        li,
        "l_orderkey long, l_returnflag string, l_extendedprice double, "
        "l_discount double",
    )
    got = [
        (r["c_custkey"], r["n_name"], r["lost_revenue"])
        for r in q10_returned_item_losses(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, "GERMANY", 100.0), (3, "GERMANY", 100.0)]
