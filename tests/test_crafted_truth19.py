"""Nineteenth batch of hand-computed truths — the r9 window's r4-era
freshness cohort (judge-r8 next-round #6 continued): the names below had
no crafted-truth coverage at all, only the DuckDB oracle, which cannot
see a misunderstanding both engines share.

Two of these are genuinely THIRD-engine checks: the hash-membership
samplers are recomputed in pure Python (hashlib.md5), so a Spark+DuckDB
agreement on the wrong hash convention would still fail here. The sweep
also caught a real latent divergence: ``skew_salted_user_value_sums``
counted ``count(event_id)`` (NULL-skipping) where its oracle says
``count(*)`` — invisible on the fixture (ids never NULL), fixed
engine-side with a row-count op in ``salted_aggregate``."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

from pyspark.sql import functions as F

import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    sample_stratified_hash,
)
from mapreduce_docker_spark.operators.skew import skew_salted_user_value_sums
from mapreduce_docker_spark.operators.textanalysis_queries import (
    sample_temperature_mix,
    text_langid_nb,
    text_unigram_surprisal,
)
from mapreduce_docker_spark.operators.tpch_queries import (
    q21_waiting_suppliers,
    q21_waiting_suppliers_onepass,
)


def _md5_bucket(prefix: str, key: int, mod: int) -> int:
    """Pure-Python twin of the engines' md5-prefix hash bucket."""
    return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8], 16) % mod


def test_stratified_hash_membership_recomputed_in_python(spark, tmp_path):
    """Third-engine check of the deterministic stratified sampler: the
    kept set is recomputed with hashlib.md5 outside both engines. Every
    event_id's membership is md5('samp:'||id)[:8] as hex % 100 < rate,
    rate 50 for error/purchase and 10 otherwise — if Spark and DuckDB
    agreed on some OTHER convention (different substring, signedness,
    or modulus), the oracle would stay green and only this fails."""
    rows = [
        (i, "error" if i % 3 == 0 else "click", dt.datetime(2024, 1, 1))
        for i in range(1, 301)
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, event_type string, ts timestamp",
    )
    got = sorted(
        (r["event_id"], r["event_type"], r["rate_pct"])
        for r in sample_stratified_hash(spark, str(tmp_path)).collect()
    )
    want = sorted(
        (i, t, 50 if t in ("error", "purchase") else 10)
        for i, t, _ in rows
        if _md5_bucket("samp:", i, 100) < (50 if t in ("error", "purchase") else 10)
    )
    assert got == want
    # the crafted id range must exercise BOTH strata non-trivially
    kept_rates = {r for _, _, r in got}
    assert kept_rates == {10, 50}


def test_temperature_mix_rates_and_membership_hand_computed(spark, tmp_path):
    """Temperature mixing (alpha=0.5) with counts 16/4/1 chosen so every
    intermediate is IEEE-exact or hand-replicable: sqrt counts 4/2/1,
    z = 7, n = 21, rates 0.375 / 0.75 / min(1, 1.5)->CLAMPED 1.0, i.e.
    thresholds 375000 / 750000 / 1000000 millionths. The rare source C is
    kept in FULL (every bucket < 1e6); A and B membership is recomputed
    with hashlib.md5 outside both engines."""
    docs = (
        [(i, "A") for i in range(100, 116)]
        + [(i, "B") for i in range(200, 204)]
        + [(300, "C")]
    )
    crafted.write(
        spark, tmp_path, "documents",
        [(d, s, f"text {d}") for d, s in docs],
        "doc_id long, source string, text string",
    )
    got = sorted(
        (r["doc_id"], r["source"], r["thr"])
        for r in sample_temperature_mix(spark, str(tmp_path)).collect()
    )
    # replicate the engines' float sequence exactly: 0.5*n*(sqrt(c)/z)/c
    z = math.sqrt(16.0) + math.sqrt(4.0) + math.sqrt(1.0)  # 7.0 exact
    thr = {
        s: int(math.floor(min(1.0, 0.5 * 21 * (math.sqrt(c) / z) / c) * 1_000_000 + 0.5))
        for s, c in (("A", 16.0), ("B", 4.0), ("C", 1.0))
    }
    assert thr == {"A": 375000, "B": 750000, "C": 1000000}
    want = sorted(
        (d, s, thr[s])
        for d, s in docs
        if _md5_bucket("mix:", d, 1_000_000) < thr[s]
    )
    assert got == want
    # the clamp branch really fired: the C doc is present unconditionally
    assert (300, "C", 1000000) in got


def test_salted_sums_count_rows_not_nonnull_keys(spark, tmp_path):
    """The r9 latent-divergence find: n_events is a ROW count. A hot user
    with a NULL event_id row and a NULL value row must still report all
    4 rows (count(*), as the oracle says) while the value sum skips its
    NULL — count(event_id) would have reported 3 and no gate on the real
    fixture (ids never NULL) could ever catch it. Sums are hand-computed;
    equality with the unsalted groupBy is implied by the same numbers."""
    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, 1.5, t),
        (2, 1, 2.5, t),
        (None, 1, None, t),   # NULL id AND NULL value: counts, adds nothing
        (4, 1, 4.0, t),
        (5, 2, 7.25, t),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, user_id long, value double, ts timestamp",
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in skew_salted_user_value_sums(spark, str(tmp_path)).collect()
    }
    assert got == {1: (4, crafted.r(1.5 + 2.5 + 4.0, 2)), 2: (1, 7.25)}


def test_q21_sole_late_supplier_multiplicity_hand_scenario(spark, tmp_path):
    """TPC-H Q21 semantics walked by hand, including the trap the window
    rewrite must preserve: numwait counts qualifying LINEITEMS, not
    orders — s1's two 'R' lines on order 100 count twice. Order 200 has
    two distinct R suppliers (neither counts), order 300 has no OTHER
    supplier (two lines, same supplier — the distinctness trap), order
    400 is not status F, order 500 credits s2 once. Both the three-scan
    EXISTS/NOT-EXISTS form and the one-pass window rewrite must emit the
    identical hand truth."""
    crafted.write(
        spark, tmp_path, "supplier",
        [(1, "Supp#1"), (2, "Supp#2"), (3, "Supp#3")],
        "s_suppkey long, s_name string",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [
            (100, "F"), (200, "F"), (300, "F"), (400, "O"), (500, "F"),
        ],
        "o_orderkey long, o_orderstatus string",
    )
    li = [
        (100, 1, "R"), (100, 1, "R"), (100, 2, "N"),  # s1 sole-R, twice
        (200, 1, "R"), (200, 2, "R"),                 # two R suppliers
        (300, 1, "R"), (300, 1, "R"),                 # no OTHER supplier
        (400, 1, "R"), (400, 2, "N"),                 # order not F
        (500, 2, "R"), (500, 3, "N"),                 # s2 sole-R once
    ]
    crafted.write(
        spark, tmp_path, "lineitem",
        li,
        "l_orderkey long, l_suppkey long, l_returnflag string",
    )
    want = [("Supp#1", 2), ("Supp#2", 1)]
    for fn in (q21_waiting_suppliers, q21_waiting_suppliers_onepass):
        got = [(r["s_name"], r["numwait"]) for r in fn(spark, str(tmp_path)).collect()]
        assert got == want, (fn.__name__, got)


def test_langid_nb_posterior_and_tie_break_hand_computed(spark, tmp_path):
    """Naive-Bayes language id with the full posterior arithmetic by hand
    (Laplace add-1 over t + |vocab|, prior n_docs/n, scored over token
    OCCURRENCES so the repeated 'x' in doc 1 counts twice), plus the
    exact tie: two single-token docs whose languages are statistically
    identical tie on score and resolve by cand_lang ascending."""
    docs = [
        (1, "aa", "x x y"),
        (2, "bb", "x z z"),
    ]
    crafted.write(
        spark, tmp_path, "documents",
        docs,
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: (r["pred_lang"], r["score"], r["correct"])
        for r in text_langid_nb(spark, str(tmp_path)).collect()
    }
    # by hand: vocab {x,y,z} v=3; both langs t=3, n_docs=1, prior ln(1/2);
    # lp(seen twice) = ln(3/6), lp(seen once) = ln(2/6), lp(unseen) = ln(1/6)
    prior = math.log(1.0 / 2.0)
    win = math.log(3.0 / 6.0) * 2 + math.log(2.0 / 6.0) + prior
    assert got[1] == ("aa", crafted.r(win, 6), True)
    assert got[2] == ("bb", crafted.r(win, 6), True)  # symmetric corpus

    # the tie: both docs are the single token 'q' -> identical smoothed
    # posteriors under both languages -> row_number breaks by cand_lang asc
    crafted.write(
        spark, tmp_path, "documents",
        [(1, "aa", "q"), (2, "bb", "q")],
        "doc_id long, lang string, text string",
    )
    tie = {
        r["doc_id"]: (r["pred_lang"], r["correct"])
        for r in text_langid_nb(spark, str(tmp_path)).collect()
    }
    assert tie == {1: ("aa", True), 2: ("aa", False)}


def test_unigram_surprisal_hand_computed(spark, tmp_path):
    """Per-doc unigram cross-entropy by hand on a 4-token corpus:
    counts x=2, y=1, z=1, N=4, so doc 1 ('x x y') has
    avg_nll = -(2 ln(1/2) + ln(1/4)) / 3 and doc 2 ('z') has exactly
    ln 4. No smoothing — every scored token is in the LM by
    construction."""
    crafted.write(
        spark, tmp_path, "documents",
        [(1, "x x y"), (2, "z")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_nll"])
        for r in text_unigram_surprisal(spark, str(tmp_path)).collect()
    }
    d1 = -(2 * math.log(2.0 / 4.0) + math.log(1.0 / 4.0)) / 3.0
    assert got == {
        1: (3, crafted.r(d1, 6)),
        2: (1, crafted.r(-math.log(1.0 / 4.0), 6)),
    }
