"""Eighteenth batch of hand-computed truths — the r9-window sweep
(judge-r8 next-round #6), prioritizing the degenerate branches of the
queries whose engine paths changed in the late-r8 degenerate-contract
batches: the co-moment corr rebuild, zero-base MoM growth, the ABC cut
lines under ties, tf-idf pair cosine incl. the zero-norm boilerplate
corpus, the rounded variance cut of the daily z-scores, and the new
streaming state-expiry dedup on a fixture small enough to walk by hand.

Every expected value below is computed OUTSIDE the engines (closed-form
arithmetic + the documented floor(x*10^n + 0.5)/10^n rounding), so a
shared Spark/DuckDB misunderstanding cannot hide — the failure class the
r8 sweep caught twice (chunker ceil, histogram min==max)."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    agg_stats_quantity_price,
    orders_mom_revenue_growth,
    parts_abc_classification,
)
from mapreduce_docker_spark.operators.funnel_queries import (
    events_daily_anomaly_zscores,
)
from mapreduce_docker_spark.operators.textanalysis_queries import (
    text_tfidf_pair_cosine,
)


def test_stats_co_moment_corr_hand_computed(spark, tmp_path):
    """corr rebuilt from covar_pop/stddev_pop (the r8 ANSI fix): a
    perfectly linear group must give corr exactly 1.0 through the
    co-moment form; a zero-variance-in-x group and a singleton group give
    NULL corr (Spark 4's native corr THROWS under ANSI there) with their
    covar/stddev/var still the hand values."""
    rows = [
        # group A: p = 10*q -> corr 1; covar_pop = 20/3; var_pop(p) = 200/3
        (1, 1.0, 10.0, "A"),
        (1, 2.0, 20.0, "A"),
        (1, 3.0, 30.0, "A"),
        # group B: q constant -> corr NULL, covar 0, stddev(q) 0
        (2, 5.0, 10.0, "B"),
        (2, 5.0, 20.0, "B"),
        # group C: singleton -> every deviation moment is 0
        (3, 7.0, 3.0, "C"),
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        rows,
        "l_orderkey long, l_quantity double, l_extendedprice double,"
        " l_returnflag string",
    )
    got = {
        r["l_returnflag"]: (r["qp_corr"], r["qp_covar"], r["q_stddev"], r["p_var"])
        for r in agg_stats_quantity_price(spark, str(tmp_path)).collect()
    }
    # hand: A) covar_pop = mean(q*p) - mean(q)mean(p) = 140/3 - 2*20
    covar_a = 140.0 / 3.0 - 40.0
    sd_q_a = math.sqrt(2.0 / 3.0)
    var_p_a = (100.0 + 400.0 + 900.0) / 3.0 - 400.0
    assert got["A"] == (
        1.0,  # covar/(sd_q*sd_p) is algebraically 1; rounding keeps it
        crafted.r(covar_a, 4),
        crafted.r(sd_q_a, 6),
        crafted.r(var_p_a, 2),
    )
    # B) covar_pop = mean(5*p) - 5*mean(p) = 0 exactly; var_pop(p) = 25
    assert got["B"] == (None, 0.0, 0.0, 25.0)
    assert got["C"] == (None, 0.0, 0.0, 0.0)


def test_mom_growth_zero_base_hand_computed(spark, tmp_path):
    """Month-over-month growth walked by hand across four months where
    March's revenue is exactly 0: February grows 1.5 off January, March
    is -1.0 off February, and April — growth off the ZERO base — is NULL
    (the r8 degenerate contract), never a divide."""
    d = lambda m, day: dt.datetime(2024, m, day)  # noqa: E731
    rows = [
        (1, d(1, 5), 40.0),
        (2, d(1, 20), 60.0),   # Jan: 100.00
        (3, d(2, 10), 250.0),  # Feb: 250.00
        (4, d(3, 15), 0.0),    # Mar: 0.00 (the zero base)
        (5, d(4, 1), 50.0),    # Apr: prev = 0 -> NULL
    ]
    crafted.write(
        spark, tmp_path, "orders",
        rows,
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    got = {
        str(r["month"]): (r["n_orders"], r["revenue"], r["mom_growth"])
        for r in orders_mom_revenue_growth(spark, str(tmp_path)).collect()
    }
    assert got == {
        "2024-01-01": (2, 100.0, None),          # no prior month
        "2024-02-01": (1, 250.0, crafted.r(1.5, 6)),    # (250-100)/100
        "2024-03-01": (1, 0.0, crafted.r(-1.0, 6)),     # (0-250)/250
        "2024-04-01": (1, 50.0, None),           # zero base: undefined
    }


def test_abc_cut_lines_and_ties_hand_computed(spark, tmp_path):
    """ABC classification with revenues engineered to land EXACTLY on the
    cut lines, plus a revenue tie broken by l_partkey: parts with revenue
    40/40/15/5 (total 100) give cumulative shares 0.4 / 0.8 / 0.95 / 1.0
    — the 0.8 and 0.95 boundaries are <=-inclusive, so classes are
    A,A,B,C by hand."""
    rows = [
        # (partkey, extendedprice, discount): revenue = price * (1 - disc)
        (101, 1, 50.0, 0.2),   # part 101: 40.00
        (102, 2, 40.0, 0.0),   # part 102: 40.00 (tie with 101 -> key asc)
        (103, 3, 15.0, 0.0),   # part 103: 15.00
        (104, 4, 5.0, 0.0),    # part 104: 5.00
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        [(pk, ok, p, disc) for pk, ok, p, disc in rows],
        "l_partkey long, l_orderkey long, l_extendedprice double,"
        " l_discount double",
    )
    got = {
        r["abc"]: (r["n_parts"], r["class_revenue"], r["min_cum_share"], r["max_cum_share"])
        for r in parts_abc_classification(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (2, 80.0, crafted.r(0.4, 6), crafted.r(0.8, 6)),   # 0.8 <= 0.8 stays A
        "B": (1, 15.0, crafted.r(0.95, 6), crafted.r(0.95, 6)),  # 0.95 <= 0.95 stays B
        "C": (1, 5.0, 1.0, 1.0),
    }


def test_tfidf_pair_cosine_hand_computed(spark, tmp_path):
    """Sparse tf-idf pair cosine by hand on a 4-doc corpus with exactly
    two kept shingles: S1 = 'aa bb cc' (df 2, w1 = ln 2) and S2 =
    'bb cc dd' (df 3, w2 = ln 4/3). doc 10 holds both, docs 11/12/13 one
    each — so cos(10,11) = w1/sqrt(w1^2+w2^2) (~0.9236, kept),
    cos(10,12) = cos(10,13) = w2/sqrt(w1^2+w2^2) (~0.3833, BELOW the 0.5
    threshold, dropped), and cos(12,13) = 1.0. Every df-1 shingle is
    pruned before the pair join."""
    docs = [
        (10, "aa bb cc dd"),  # shingles {S1, S2}
        (11, "aa bb cc"),     # {S1}
        (12, "bb cc dd"),     # {S2}
        (13, "bb cc dd"),     # {S2}
    ]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in text_tfidf_pair_cosine(spark, str(tmp_path)).collect()
    }
    w1, w2 = math.log(2.0), math.log(4.0 / 3.0)
    nrm10 = math.sqrt(w1 * w1 + w2 * w2)
    assert got == {
        (10, 11): crafted.r((w1 * w1) / (nrm10 * w1), 6),
        (12, 13): 1.0,
    }
    # the sub-threshold pair really was a candidate (shared S2) — its
    # absence is the threshold, not a join miss
    assert crafted.r(w2 / nrm10, 6) < 0.5


def test_tfidf_boilerplate_corpus_is_pairless(spark, tmp_path):
    """The zero-norm contract end-to-end: an all-identical corpus has one
    shingle with df = n, so every doc's only kept weight is ln(n/n) = 0 —
    zero-norm vectors are defined out (oracle HAVING matches) and the
    result is EMPTY, not a divide-by-zero and not a flood of NaN pairs."""
    docs = [(i, "om om om") for i in range(1, 7)]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    assert text_tfidf_pair_cosine(spark, str(tmp_path)).collect() == []


def test_daily_zscores_hand_computed_and_rounded_cut(spark, tmp_path):
    """Daily anomaly z-scores by hand: type 't' totals 10/20/30 give
    sample stddev 10 and z = -1/0/+1; type 'u' totals 100.00 vs 100.02
    sit just ABOVE the rounded variance cut (var_num = 2e-4 rounds to
    0.0002 > 0) with z = ±(0.01/0.014142...); type 'v' is exactly
    constant — var_num is identically 0, so z is NULL (never a divide)."""
    t0 = dt.datetime(2024, 3, 1)
    day = dt.timedelta(days=1)
    rows = [
        # type t: one event per day, totals 10 / 20 / 30
        (1, t0, "t", 10.0),
        (2, t0 + day, "t", 20.0),
        (3, t0 + 2 * day, "t", 30.0),
        # type u: 100.00 vs 100.02 (two events on day 2 summing to 100.02)
        (4, t0, "u", 100.0),
        (5, t0 + day, "u", 60.02),
        (6, t0 + day, "u", 40.0),
        # type v: exactly constant
        (7, t0, "v", 5.0),
        (8, t0 + day, "v", 5.0),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, ts timestamp, event_type string, value double",
    )
    got = {
        (r["event_type"], str(r["event_date"])): (r["zscore"], r["is_anomaly"])
        for r in events_daily_anomaly_zscores(spark, str(tmp_path)).collect()
    }
    # type t by hand: mu=20, sample std = sqrt(((10-20)^2+(0)^2+(10)^2)/2) = 10
    assert got[("t", "2024-03-01")] == (crafted.r(-1.0, 4), False)
    assert got[("t", "2024-03-02")] == (0.0, False)
    assert got[("t", "2024-03-03")] == (crafted.r(1.0, 4), False)
    # type u: the engine computes var_num = sq - s^2/n on the ROUNDED
    # daily totals (100.0, 100.02); replicate the same float arithmetic
    a, b = 100.0, crafted.r(60.02 + 40.0, 2)
    sq, s = a * a + b * b, a + b
    var_num = sq - s * s / 2.0
    assert crafted.r(var_num, 4) > 0  # the cut keeps this group
    sd = math.sqrt(var_num / 1.0)
    mu = s / 2.0
    assert got[("u", "2024-03-01")] == (crafted.r((a - mu) / sd, 4), False)
    assert got[("u", "2024-03-02")] == (crafted.r((b - mu) / sd, 4), False)
    # type v: identical totals -> var_num identically 0 -> NULL z
    assert got[("v", "2024-03-01")] == (None, None)
    assert got[("v", "2024-03-02")] == (None, None)


def test_streaming_expiry_dedup_hand_computed(spark, tmp_path):
    """The state-expiry streaming dedup walked by hand on a 7-day fixture
    (kept days = indices 0/3/6 from the first day):

    * user 1 'click' appears on ALL THREE kept days -> 3 emissions (days
      0 and 3 and 6 — each prior state provably expired);
    * user 2 'view' appears days 0/1/2 -> only day 0 is kept;
    * user 3 'click' appears days 3/4 (twice on day 3 at different
      hours, proving within-day collapse) -> one emission on day 3;
    * user 4 'buy' appears ONLY on day 5 (index 5 % 3 != 0) -> absent.
    """
    from mapreduce_docker_spark.streaming.stream_demo import (
        run_dedup_expiry_keys_stream,
    )

    t0 = dt.datetime(2024, 5, 1)
    day = dt.timedelta(days=1)
    hr = dt.timedelta(hours=1)
    rows = [
        (1, t0 + 2 * hr, 1, "click"),
        (2, t0 + 3 * day + 5 * hr, 1, "click"),
        (3, t0 + 6 * day, 1, "click"),
        (4, t0, 2, "view"),
        (5, t0 + 1 * day, 2, "view"),
        (6, t0 + 2 * day, 2, "view"),
        (7, t0 + 3 * day + 1 * hr, 3, "click"),
        (8, t0 + 3 * day + 9 * hr, 3, "click"),  # same kept day: collapses
        (9, t0 + 4 * day, 3, "click"),
        (10, t0 + 5 * day, 4, "buy"),            # only on a skipped day
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = sorted(
        (r["user_id"], r["event_type"], str(r["day_ts"]))
        for r in run_dedup_expiry_keys_stream(
            spark, str(tmp_path), query_name="t_expiry_crafted"
        ).collect()
    )
    d0 = "2024-05-01 00:00:00"
    d3 = "2024-05-04 00:00:00"
    d6 = "2024-05-07 00:00:00"
    assert got == [
        (1, "click", d0),
        (1, "click", d3),
        (1, "click", d6),
        (2, "view", d0),
        (3, "click", d3),
    ], got
