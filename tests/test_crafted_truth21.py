"""Twenty-first batch of hand-computed truths — a head start on the r10
window (the r5-era freshness cohort), covering the four names there with
no crafted coverage at all: the rolling 7-day window's INCLUSIVE day-6
boundary, the bipartite degree distribution, the polymorphic trigram
UDTF's position/short-doc semantics, and a full THIRD-engine
recomputation of the Bloom filter build (shingle rule, md5-prefix hash,
affine bit positions, fill arithmetic — all replicated with hashlib in
pure Python, so a hash-convention misunderstanding shared by Spark and
DuckDB would still fail here)."""

from __future__ import annotations

import datetime as dt
import hashlib

import crafted
from mapreduce_docker_spark.operators.funnel_queries import (
    events_rolling_7d_active_users,
)
from mapreduce_docker_spark.operators.graph_queries import (
    q_graph_degree_distribution,
)
from mapreduce_docker_spark.operators.membership_queries import (
    BLOOM_A,
    BLOOM_B,
    BLOOM_K,
    BLOOM_M,
    q_bloom_benchmark_filter,
)
from mapreduce_docker_spark.functions.texthash import MINHASH_P


def test_rolling_7d_window_boundaries_hand_computed(spark, tmp_path):
    """Trailing-7-day distinct users with the boundary walked by hand: a
    user active EXACTLY six days before day D is inside D's window
    (d >= D-6 inclusive = 7 calendar days), one active seven days before
    is not. Day 0 holds users {1,2} (user 1 twice, for the event count),
    day 6 user {3}, day 7 user {4} — so day 6's WAU is 3 (day 0 is the
    inclusive edge) and day 7's is 2 (day 0 just fell out)."""
    t = dt.datetime
    rows = [
        (1, 1, t(2024, 1, 1, 8)),
        (2, 1, t(2024, 1, 1, 9)),   # same user twice: n_events 3, dau 2
        (3, 2, t(2024, 1, 1, 10)),
        (4, 3, t(2024, 1, 7, 12)),  # day 6
        (5, 4, t(2024, 1, 8, 12)),  # day 7
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, user_id long, ts timestamp",
    )
    got = {
        str(r["event_date"]): (r["n_events"], r["dau"], r["wau_7d"])
        for r in events_rolling_7d_active_users(spark, str(tmp_path)).collect()
    }
    assert got == {
        "2024-01-01": (3, 2, 2),
        "2024-01-07": (1, 1, 3),  # {1,2} from day 0 still in; +{3}
        "2024-01-08": (1, 1, 2),  # day 0 out; {3,4}
    }


def test_degree_distribution_hand_computed(spark, tmp_path):
    """Bipartite purchase-graph degrees by hand: edges are DISTINCT
    (customer, supplier) pairs, so customer 1 trading with supplier 1
    through TWO different orders is still one edge. Graph: c1-{s1,s2},
    c2-{s1} -> customer degrees {2:1, 1:1}, supplier degrees {2:1, 1:1}."""
    crafted.write(
        spark, tmp_path, "orders",
        [(10, 1), (11, 1), (12, 2)],
        "o_orderkey long, o_custkey long",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (10, 100),  # c1-s1
            (10, 200),  # c1-s2
            (11, 100),  # c1-s1 AGAIN via another order: same edge
            (12, 100),  # c2-s1
        ],
        "l_orderkey long, l_suppkey long",
    )
    got = sorted(
        (r["side"], r["degree"], r["n_nodes"])
        for r in q_graph_degree_distribution(spark, str(tmp_path)).collect()
    )
    assert got == [
        ("customer", 1, 1),  # c2
        ("customer", 2, 1),  # c1
        ("supplier", 1, 1),  # s2
        ("supplier", 2, 1),  # s1
    ]


def test_udtf_trigrams_positions_hand_computed(spark, tmp_path):
    """Polymorphic n-gram UDTF at n=3: doc 1's four tokens give exactly
    two trigrams at positions 0 and 1; a two-token doc yields no rows
    (not a crash, not a padded row); a doc at id 60 is outside the
    doc_id < 50 demo bound."""
    from mapreduce_docker_spark.operators.udf_queries import (
        udf_udtf_analyze_trigrams,
    )

    crafted.write(
        spark, tmp_path, "documents",
        [(1, "a b c d"), (2, "x y"), (60, "p q r s")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["pos"], r["w0"], r["w1"], r["w2"])
        for r in udf_udtf_analyze_trigrams(spark, str(tmp_path)).collect()
    )
    assert got == [
        (1, 0, "a", "b", "c"),
        (1, 1, "b", "c", "d"),
    ]


def test_bloom_build_recomputed_in_python(spark, tmp_path):
    """THIRD-engine Bloom build: every stage — [a-z]+ tokenization, 3-word
    shingles with the short-doc whole-text rule, the md5-prefix shingle
    hash mod 2^31-1, the K affine bit positions mod M, and the fill/fp
    arithmetic — is recomputed with hashlib + pure Python. The crafted
    corpus exercises shingle dedup across docs (doc 2 repeats doc 1's
    text) and the short-doc branch (doc 3)."""
    import re

    docs = [
        (1, "alpha beta gamma delta"),   # shingles: "alpha beta gamma", "beta gamma delta"
        (2, "alpha beta gamma delta"),   # duplicates doc 1: no new keys
        (3, "tiny doc"),                 # short: whole-text shingle "tiny doc"
        (4, "Epsilon zeta ETA theta"),   # case-folds before tokenizing
        (25, "outside the bench cut"),   # doc_id >= 20: excluded
    ]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = q_bloom_benchmark_filter(spark, str(tmp_path)).collect()[0]

    def shingles(text):
        toks = re.findall(r"[a-z]+", text.lower())
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    keys = set()
    for doc_id, text in docs:
        if doc_id < 20:
            for s in shingles(text):
                keys.add(int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MINHASH_P)
    bits = {
        ((a * h + b) % MINHASH_P) % BLOOM_M
        for h in keys
        for a, b in zip(BLOOM_A, BLOOM_B)
    }
    fill = len(bits) / float(BLOOM_M)
    fp = 1.0
    for _ in range(BLOOM_K):
        fp = fp * fill
    assert (got["n_keys"], got["n_bits_set"]) == (len(keys), len(bits))
    assert got["fill_ratio"] == crafted.r(fill, 6)
    assert got["approx_fp_rate"] == crafted.r(fp, 8)
    # sanity on the fixture itself: dedup and short-doc branches both fired
    assert len(keys) == 2 + 1 + 2  # doc1 pair (doc2 dup) + doc3 whole + doc4 pair
