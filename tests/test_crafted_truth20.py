"""Twentieth batch of hand-computed truths — completing the r9 window's
crafted coverage: the BPE pre-tokenizer walked character by character
(contractions, space-prefixed digit runs, whitespace grouping, non-ASCII
letters and punctuation), its corpus top-k with binary-collation
tie-break, TF-IDF argmax with an exact idf tie, the RDD wordcount lane's
NULL-text contract, and a TPC-H Q3 scenario covering every predicate
branch. All expectations are derived outside both engines."""

from __future__ import annotations

import datetime as dt
import math

import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    q3_shipping_priority,
)
from mapreduce_docker_spark.operators.textanalysis_queries import (
    text_bpe_token_stats,
    text_bpe_top_pieces,
    text_tfidf_top_term,
)
from mapreduce_docker_spark.operators.wordcount_queries import q_wordcount_rdd


# hand walk of BPE_PATTERN over "It's 2024,  naïve—test!":
#   "It"     ` ?\p{L}+` (no space prefix at string start)
#   "'s"     the contraction branch, tried FIRST in the alternation
#   " 2024"  ` ?\p{N}+` takes the single preceding space
#   ","      punctuation run (no space before it)
#   "  "     TWO spaces: ` ?\p{L}+` can't bridge them, so `\s+` eats both
#   "naïve"  non-ASCII letter inside \p{L}+
#   "—"      em-dash: non-ASCII single-char punctuation run
#   "test"   letters, no preceding space (the dash consumed the boundary)
#   "!"      trailing punctuation
_D1 = "It's 2024,  naïve—test!"
_D1_PIECES = ["It", "'s", " 2024", ",", "  ", "naïve", "—", "test", "!"]
# "x y y " : trailing space becomes its own whitespace piece; " y" repeats
_D2 = "x y y "
_D2_PIECES = ["x", " y", " y", " "]


def test_bpe_token_stats_hand_walked(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "documents",
        [(1, _D1), (2, _D2)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_pieces"], r["n_distinct_pieces"], r["n_ws_tokens"])
        for r in text_bpe_token_stats(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (len(_D1_PIECES), len(set(_D1_PIECES)), 3),  # It's / 2024, / naïve—test!
        2: (len(_D2_PIECES), len(set(_D2_PIECES)), 3),  # x / y / y
    }


def test_bpe_top_pieces_binary_collation_hand_ranked(spark, tmp_path):
    """Corpus piece ranking: ' y' leads with count 2; the 11 singletons
    order by BINARY (UTF-8 codepoint) collation — single space before
    double space before ' 2024', ASCII punctuation before letters, and
    the multi-byte em-dash LAST."""
    crafted.write(
        spark, tmp_path, "documents",
        [(1, _D1), (2, _D2)],
        "doc_id long, text string",
    )
    got = [
        (r["piece"], r["cnt"])
        for r in text_bpe_top_pieces(spark, str(tmp_path)).collect()
    ]
    singles = sorted(
        set(_D1_PIECES) | (set(_D2_PIECES) - {" y"}),
        key=lambda s: s.encode("utf-8"),
    )
    assert got == [(" y", 2)] + [(p, 1) for p in singles]
    assert got[-1][0] == "—"  # multi-byte sorts after every ASCII piece


def test_tfidf_top_term_idf_zero_and_tie_hand_computed(spark, tmp_path):
    """TF-IDF argmax by hand on 3 docs: doc 1's repeated 'a' wins with
    2·ln3; doc 2's best is 'c' (its 'b' has df=2, idf=ln(3/2) — lower);
    doc 3's 'd' and 'e' tie EXACTLY (same tf, same df) and the window
    resolves by term ascending."""
    crafted.write(
        spark, tmp_path, "documents",
        [(1, "a a b"), (2, "b c"), (3, "d e")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["term"], r["tfidf"])
        for r in text_tfidf_top_term(spark, str(tmp_path)).collect()
    }
    ln3 = math.log(3.0)
    assert got == {
        1: ("a", crafted.r(2 * ln3, 6)),
        2: ("c", crafted.r(ln3, 6)),
        3: ("d", crafted.r(ln3, 6)),  # tie with 'e' -> term asc
    }


def test_wordcount_rdd_null_text_hand_computed(spark, tmp_path):
    """The RDD lane's NULL-text contract (r8 fix, now in the r9 window):
    a NULL document contributes nothing — the Python flatMap must guard
    explicitly where explode(NULL) is free — and [a-z]+ tokenization of
    lowered text merges case variants."""
    crafted.write(
        spark, tmp_path, "documents",
        [(1, "The cat the CAT"), (2, None), (3, "dog!")],
        "doc_id long, text string",
    )
    got = {
        r["word"]: r["cnt"] for r in q_wordcount_rdd(spark, str(tmp_path)).collect()
    }
    assert got == {"the": 2, "cat": 2, "dog": 1}


def test_q3_predicate_branches_hand_scenario(spark, tmp_path):
    """TPC-H Q3 with every predicate branch exercised by one row: a
    non-BUILDING customer, an order past the date cut, a lineitem shipped
    before the cut on a qualifying order, and two qualifying orders whose
    hand-computed revenues (200 > 140 = 100·0.9 + 50) fix the sort."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, "BUILDING"), (2, "AUTOMOBILE")],
        "c_custkey long, c_mktsegment string",
    )
    d = dt.datetime
    crafted.write(
        spark, tmp_path, "orders",
        [
            (10, 1, d(1997, 6, 1)),   # qualifies
            (20, 1, d(1998, 6, 1)),   # orderdate past the cut
            (30, 2, d(1997, 1, 1)),   # wrong segment
            (40, 1, d(1997, 7, 1)),   # qualifies, higher revenue
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (10, 100.0, 0.1, d(1998, 5, 1)),   # 90.00
            (10, 50.0, 0.0, d(1998, 2, 1)),    # 50.00
            (10, 999.0, 0.0, d(1997, 12, 1)),  # shipped BEFORE the cut
            (20, 77.0, 0.0, d(1999, 1, 1)),    # order fails the date cut
            (30, 88.0, 0.0, d(1998, 5, 1)),    # wrong segment
            (40, 200.0, 0.0, d(1998, 3, 1)),   # 200.00
        ],
        "l_orderkey long, l_extendedprice double, l_discount double,"
        " l_shipdate timestamp",
    )
    got = [
        (r["l_orderkey"], r["revenue"], r["o_orderdate"])
        for r in q3_shipping_priority(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (40, 200.0, d(1997, 7, 1)),
        (10, crafted.r(100.0 * 0.9 + 50.0, 2), d(1997, 6, 1)),
    ]
