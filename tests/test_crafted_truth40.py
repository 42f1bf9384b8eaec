"""Fortieth batch — more r12/r13-window hand truths, pre-written (the
hand-truth-first pattern):

* ``q19_discounted_revenue`` — OR-of-conjunctions: every quantity band
  edge (1/30, 10/40, 20/50) and size edge (15) walked by hand; a line
  one past its band contributes nothing even though ANOTHER branch's
  band would admit the quantity (brand pins the branch); NULL
  quantity/size never match (OR of FALSE and NULL is NULL -> filtered);
  a NULL discount makes that line's revenue term NULL, which sum()
  skips on both engines;
* ``q11_important_stock`` — the fraction-of-global cut line hit
  EXACTLY: total part value 1,000,000.00 makes the 0.001 threshold
  1000.00, and the part whose value is exactly 1000.00 is excluded by
  the strict >; non-NATION_5 suppliers and NULL supplier keys
  contribute nothing;
* ``udf_pandas_saturation`` — the Arrow-vectorized tanh recomputed in
  pure Python (math.exp + ROUND_HALF_UP decimal quantize, the engines'
  shared rounding): '' saturates to 0, the multibyte text counts
  CODEPOINTS (not bytes) on both engines, NULL text is NULL.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal


import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    q19_discounted_revenue,
)
from mapreduce_docker_spark.operators.tpch_queries import q11_important_stock
from mapreduce_docker_spark.operators.udf_queries import udf_pandas_saturation
from mapreduce_docker_spark.registry import all_specs


def test_q19_band_edges_and_null_predicates_both_engines(spark, tmp_path):
    # contributing lines: (1, qty 30) -> 100; (3, qty 10) -> 200*0.5 = 100;
    # (3, qty 40) -> 80*0.75 = 60; (4, qty 20) -> 40; (4, qty 50) -> 10;
    # everything else is an edge-out, a NULL predicate, or a NULL-discount
    # term that sum() skips. Total 310.00.
    crafted.write(
        spark, tmp_path, "part",
        [
            (1, "Brand#11", 15),   # size edge IN for branch 1
            (2, "Brand#11", 16),   # size edge OUT
            (3, "Brand#22", 25),
            (4, "Brand#33", 35),
            (5, "Brand#33", None),  # NULL size never matches
        ],
        "p_partkey long, p_brand string, p_size int",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (1, 30.0, 100.0, 0.0),    # qty edge IN (branch 1 max)
            (1, 31.0, 999.0, 0.0),    # one past: branch 2 would admit 31,
                                      # but Brand#11 pins branch 1 -> OUT
            (2, 5.0, 999.0, 0.0),     # size 16: no branch
            (3, 10.0, 200.0, 0.5),    # qty edge IN (branch 2 min)
            (3, 40.0, 80.0, 0.25),    # qty edge IN (branch 2 max)
            (3, 41.0, 999.0, 0.0),    # one past
            (4, 20.0, 40.0, 0.0),     # qty edge IN (branch 3 min)
            (4, 50.0, 10.0, 0.0),     # qty edge IN (branch 3 max)
            (4, 19.0, 999.0, 0.0),    # one short
            (4, None, 999.0, 0.0),    # NULL quantity never matches
            (5, 25.0, 999.0, 0.0),    # NULL size part
            (1, 15.0, 100.0, None),   # matches branch 1; NULL discount ->
                                      # NULL term, skipped by sum
        ],
        "l_partkey long, l_quantity double, l_extendedprice double, l_discount double",
    )
    want = [(310.0,)]
    assert [tuple(r) for r in q19_discounted_revenue(spark, str(tmp_path)).collect()] == want
    assert crafted.oracle(
        tmp_path, ("part", "lineitem"), all_specs()["q19_discounted_revenue"].sql
    ) == want


def test_q11_exact_threshold_boundary_both_engines(spark, tmp_path):
    # part values 998999.00 + 1000.00 + 1.00 = 1,000,000.00 total ->
    # threshold 1000.00; strict > keeps ONLY part 101. Part 102 sits
    # EXACTLY on the cut. The foreign supplier and the NULL suppkey rows
    # are outside NATION_5's value entirely.
    crafted.write(spark, tmp_path, "nation", [(5, "NATION_5"), (6, "NATION_6")],
                  "n_nationkey int, n_name string")
    crafted.write(spark, tmp_path, "supplier", [(1, 5), (2, 6)],
                  "s_suppkey long, s_nationkey int")
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (101, 1, 998999.0, 1.0),
            (102, 1, 1000.0, 1.0),
            (103, 1, 1.0, 1.0),
            (102, 2, 5000.0, 1.0),   # wrong nation
            (103, None, 77.0, 1.0),  # NULL suppkey: no join
        ],
        "l_partkey long, l_suppkey long, l_extendedprice double, l_quantity double",
    )
    want = [(101, 998999.0)]
    assert [tuple(r) for r in q11_important_stock(spark, str(tmp_path)).collect()] == want
    assert crafted.oracle(
        tmp_path, ("nation", "supplier", "lineitem"),
        all_specs()["q11_important_stock"].sql,
    ) == want


def test_saturation_tanh_recomputed_both_engines(spark, tmp_path):
    docs = [
        (1, ""),                       # len 0 -> tanh(0) = 0
        (2, "x" * 250),                # len 250 -> tanh(1)
        (3, "straße émoji \U0001f680"),  # 14 CODEPOINTS, 19 utf-8 bytes
        (4, None),                     # NULL text -> NULL
    ]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")

    def truth(n):
        t = (math.exp(2 * n / 500.0) - 1) / (math.exp(2 * n / 500.0) + 1)
        return float(Decimal(repr(t)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    # sharpness: the multibyte doc's truth is tanh(14/250) — the CODEPOINT
    # count (== Python len) — NOT tanh(19/250), the utf-8 byte count
    assert truth(14) != truth(19)
    assert len(docs[2][1]) == 14 and len(docs[2][1].encode()) == 19
    want = sorted(
        [(1, truth(0)), (2, truth(250)), (3, truth(14)), (4, None)],
    )
    got = sorted(tuple(r) for r in udf_pandas_saturation(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("documents",), all_specs()["udf_pandas_saturation"].sql)
    ) == want
