"""Forty-fifth batch — the order-statistic extension of the
finite-measure law (r13, judge-r12 next-round #1 + #2).

The seed-429 band-4 differential find (judge-r12): a NaN measure
occupies DIFFERENT sort positions in the two engines' percentile order
statistics — Spark's median interpolates over a NaN-last total order
(median of [1,2,3,NaN] = 2.5, and one Inf drags it to Inf), while
DuckDB's quantile machinery drops NaN but keeps Inf — so median/p90
disagree on WHICH value the cut lands on the moment one non-finite
value enters a group. Fix: the same non-finite->NULL ingress the
variance family adopted in r12 (functions/measures.py), because
percentiles are order statistics of the measure. Pinned here:

* ``agg_percentiles_by_segment``: the normalized-out NaN sits on NO
  side of the cut — median of [1,2,3,NaN] is 2.0 (NOT 2.5, which is
  what a NaN-counted-as-greatest order would give), an Inf group cuts
  over its finite survivors only, an all-nonfinite group folds to
  NULL, and a non-finite-free group is bit-identical to the
  unnormalized form;
* ``agg_winsorized_value_stats``: same law upstream of the clamp — a
  normalized-out NaN contributes to n (count(*) counts rows) but
  never to the cut lines, clamping, or the winsorized moments;
* the rest of the order-statistic surface needs NO guard — measured
  placement agreement, pinned so a regression in either engine's sort
  semantics fails loudly (SCALING.md "order-statistic NaN placement"):
  - ``window_distribution_ranks`` (percent_rank/cume_dist/ntile):
    both engines totally order -inf < finite < +inf < NaN < NULL
    under ASC NULLS LAST with a key tiebreak — NaN rows get ordinary
    consecutive ranks;
  - ``window_range_price_band`` (RANGE frame): both engines make the
    NaN rows one peer band (NaN +/- delta stays NaN, peers by the
    sort-order NaN-equals-NaN), +/-Inf bands contain only themselves,
    and the NULL ordering-key row is its own peer group on both
    engines even though their DEFAULT null placement differs (Spark
    ASC = NULLS FIRST, DuckDB = NULLS LAST) — count() over the peer
    group is placement-invariant.
"""

from __future__ import annotations


import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    agg_percentiles_by_segment,
    agg_winsorized_value_stats,
    json_map_entries,
    map_hof_event_props,
    window_distribution_ranks,
    window_range_price_band,
)
from mapreduce_docker_spark.registry import all_specs

NAN = float("nan")
INF = float("inf")


def test_percentiles_finite_ingress_nan_boundary_hand_truth(spark, tmp_path):
    """Hand truth per segment (the seed-429 class, fixed):

    A=[1,2,3,NaN]: finite pop {1,2,3} -> median 2.0 (a NaN-last order
      would interpolate (2+3)/2 = 2.5 — the pre-fix Spark answer),
      p90 = 2 + 0.8*(3-2) = 2.8;
    B=[10,Inf,20]: finite {10,20} -> median 15.0, p90 = 10+0.9*10 = 19.0
      (pre-fix Spark: Inf-last order makes p90 interpolate INTO Inf);
    C=[NaN,Inf]: finite pop empty -> (NULL, NULL) on both engines;
    D=[5]: non-finite-free -> bit-identical to the unnormalized form.
    """
    crafted.write(
        spark, tmp_path, "customer",
        [("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", NAN),
         ("B", 10.0), ("B", INF), ("B", 20.0),
         ("C", NAN), ("C", INF),
         ("D", 5.0)],
        "c_mktsegment string, c_acctbal double",
    )
    want = [
        ("A", 2.0, 2.8),
        ("B", 15.0, 19.0),
        ("C", None, None),
        ("D", 5.0, 5.0),
    ]
    got = sorted(
        tuple(r) for r in agg_percentiles_by_segment(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["agg_percentiles_by_segment"]
    assert sorted(crafted.oracle(tmp_path, ("customer",), spec.sql)) == want


def test_winsorized_stats_finite_ingress_hand_truth(spark, tmp_path):
    """events 'c' = [0..10] + NaN + NULL. Finite pop [0..10]:
    p05 = 0 + 0.5*(1-0) = 0.5, p95 = 9.5 (quantile_cont index h =
    q*(n-1) over the 11 finite values). Clamps: 0 -> 0.5 and 10 -> 9.5
    (n_clamped 2); the NaN row is normalized out BEFORE the cut lines
    (pre-fix, Spark's percentile would have seen it) so it and the NULL
    row carry v NULL / clamped 0 through identical CASE falls on both
    engines, but still count in n = 13. winsorized_mean =
    (0.5 + 1+..+9 + 9.5)/11 = 55/11 = 5.0; min 0.5; max 9.5."""
    rows = [("c", float(v)) for v in range(11)] + [("c", NAN), ("c", None)]
    crafted.write(spark, tmp_path, "events", rows, "event_type string, value double")
    want = [("c", 13, 2, 5.0, 0.5, 9.5)]
    got = sorted(
        tuple(r) for r in agg_winsorized_value_stats(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["agg_winsorized_value_stats"]
    assert sorted(crafted.oracle(tmp_path, ("events",), spec.sql)) == want


_NONFINITE_PRICES = [
    (1, -INF), (2, 1.0), (3, 2.0), (4, INF), (5, NAN), (6, NAN), (7, None),
]


def test_distribution_ranks_nonfinite_placement_measured_agreement(spark, tmp_path):
    """Measured placement law: BOTH engines totally order
    -inf < 1.0 < 2.0 < +inf < NaN < NULL under ASC NULLS LAST with the
    orderkey tiebreak, so NaN rows take ordinary consecutive ranks and
    need no finite() guard. Hand truth: rn k of 7 -> pct_rank
    (k-1)/6, cume k/7, decile=k (ntile(10) over 7 rows), each through
    the query's floor(x*10000+0.5)/10000 rounding."""
    crafted.write(
        spark, tmp_path, "orders",
        [(k, "O", v) for k, v in _NONFINITE_PRICES],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    want = [
        (1, "O", 0.0, 0.1429, 1),
        (2, "O", 0.1667, 0.2857, 2),
        (3, "O", 0.3333, 0.4286, 3),
        (4, "O", 0.5, 0.5714, 4),
        (5, "O", 0.6667, 0.7143, 5),
        (6, "O", 0.8333, 0.8571, 6),
        (7, "O", 1.0, 1.0, 7),
    ]
    got = sorted(
        tuple(r) for r in window_distribution_ranks(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["window_distribution_ranks"]
    assert sorted(crafted.oracle(tmp_path, ("orders",), spec.sql)) == want


def test_range_frame_nonfinite_band_measured_agreement(spark, tmp_path):
    """Measured RANGE-frame law: NaN-delta arithmetic keeps NaN rows one
    peer band (count 2), +/-Inf bands contain only themselves (Inf-10000
    = Inf), finite rows band normally (2.0 sees 1.0), and the NULL
    ordering-key row is its own peer group — count() is invariant to
    the engines' opposite default NULL placement (Spark ASC NULLS
    FIRST vs DuckDB NULLS LAST)."""
    crafted.write(
        spark, tmp_path, "orders",
        [(k, 1, v) for k, v in _NONFINITE_PRICES],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    want = [
        (1, 1, 1),  # -inf: band [-inf,-inf], itself only
        (1, 2, 1),  # 1.0: [-9999, 1] -> {1.0}
        (1, 3, 2),  # 2.0: [-9998, 2] -> {1.0, 2.0}
        (1, 4, 1),  # +inf: [inf, inf], itself only
        (1, 5, 2),  # NaN peer band of two
        (1, 6, 2),
        (1, 7, 1),  # NULL: own peer group, either placement
    ]
    got = sorted(
        (r["o_custkey"], r["o_orderkey"], r["n_in_band"])
        for r in window_range_price_band(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["window_range_price_band"]
    assert (
        sorted((c, k, n) for c, k, n in crafted.oracle(tmp_path, ("orders",), spec.sql))
        == want
    )


def test_json_path_safety_law_hand_truth(spark, tmp_path):
    """Path-safety law (r13, judge-r12 ADVICE #3): a props key containing
    a double-quote or backslash cannot be addressed by the oracle's
    quoted '$."k"' path (measured: a '"'-bearing key THROWS at runtime on
    the dynamic path; a trailing-'\\' key would escape the closing quote)
    while Spark's map explode handles such keys fine — so the CONTRACT
    drops the whole object on both engines. Grid: a plain object and a
    dot-key object are retained (quoted paths keep '.' addressable); the
    quote-key and backslash-key objects are NO properties — zero entry
    rows from json_map_entries, all-NULL scalars from
    map_hof_event_props."""
    rows = [
        (1, '{"a":1,"b":2}'),
        (2, '{"qu\\"ote":1}'),       # key qu"ote -> dropped
        (3, '{"back\\\\slash":1}'),  # key back\slash -> dropped
        (4, '{"dot.key":60}'),
    ]
    crafted.write(spark, tmp_path, "events", rows, "event_id long, props string")

    want_entries = [(1, "a", 1), (1, "b", 2), (4, "dot.key", 60)]
    got = sorted(tuple(r) for r in json_map_entries(spark, str(tmp_path)).collect())
    assert got == want_entries
    spec = all_specs()["json_map_entries"]
    assert sorted(crafted.oracle(tmp_path, ("events",), spec.sql)) == want_entries

    want_hof = [
        (1, 2, 6, 0),
        (2, None, None, None),
        (3, None, None, None),
        (4, 1, 120, 1),
    ]
    got = sorted(
        tuple(r) for r in map_hof_event_props(spark, str(tmp_path)).collect()
    )
    assert got == want_hof
    spec = all_specs()["map_hof_event_props"]
    assert sorted(crafted.oracle(tmp_path, ("events",), spec.sql)) == want_hof
