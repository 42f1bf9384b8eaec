"""Forty-sixth batch — pre-written hand truths for the r14 freshness
window's highest-semantics r8 names that had none (judge-r13 next-round
#1): the strictly-ordered funnel, the SymSpell deletion-neighborhood
fuzzy join, and the multimodal metadata rollup.

Each test walks a crafted micro-fixture by hand on paper, asserts the
engine result, then asserts the registered DuckDB oracle SQL produces
the same rows on the same parquet — so a divergence in EITHER engine
fails before the driver window runs.
"""

from __future__ import annotations

import datetime as dt
import math


import crafted
from mapreduce_docker_spark.operators.funnel_queries import events_funnel_conversion
from mapreduce_docker_spark.operators.multimodal_queries import (
    multimodal_meta_by_source,
)
from mapreduce_docker_spark.operators.similarity_queries import sim_label_cohesion
from mapreduce_docker_spark.operators.textanalysis_queries import (
    text_symspell_vocab_pairs,
)
from mapreduce_docker_spark.registry import all_specs


def test_funnel_conversion_strict_order_hand_truth(spark, tmp_path):
    """Strictly-ordered view->click->purchase funnel, walked by hand.

    u1: view@0h, click@2h, purchase@5h  -> t1=0h, t2=2h, t3=5h (full chain);
    u2: click@1h (BEFORE any view, must not count), view@2h, click@4h
        -> t1=2h, t2=4h, no purchase -> t3 NULL;
    u3: purchase@1h only -> t1 NULL, so t2/t3 NULL (us > NULL is never
        true) — u3 reaches NO stage;
    u4: view@3h and click@3h at the SAME microsecond -> the strict
        us > t1 excludes the simultaneous click, t2 NULL;
    u=NULL: one view@1h — both engines make NULL user_id its own
        window partition and group, so it counts in stage 1;
    plus one view with a NULL ts (min ignores it — u1's t1 stays 0h).

    Stage rows: 1_view users=4 (u1,u2,u4,NULL-user) avg 0.0;
    2_click users=2 (u1: 2h-0h, u2: 4h-2h) avg (2+2)/2 = 2.0 hours;
    3_purchase users=1 (u1: 5h-0h) avg 5.0 hours.
    """
    d = dt.datetime
    b = d(2024, 3, 1, 0, 0, 0)

    def h(hours):
        return b + dt.timedelta(hours=hours)

    rows = [
        (1, h(0), 1, "view"),
        (2, h(2), 1, "click"),
        (3, h(5), 1, "purchase"),
        (4, None, 1, "view"),
        (5, h(1), 2, "click"),
        (6, h(2), 2, "view"),
        (7, h(4), 2, "click"),
        (8, h(1), 3, "purchase"),
        (9, h(3), 4, "view"),
        (10, h(3), 4, "click"),
        (11, h(1), None, "view"),
    ]
    crafted.write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    want = [
        ("1_view", 4, 0.0),
        ("2_click", 2, 2.0),
        ("3_purchase", 1, 5.0),
    ]
    got = sorted(
        tuple(r) for r in events_funnel_conversion(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["events_funnel_conversion"]
    assert sorted(crafted.oracle(tmp_path, ("events",), spec.sql)) == want


def test_symspell_vocab_pairs_hand_truth(spark, tmp_path):
    """Deletion-neighborhood blocked fuzzy join, derived by hand.

    Vocabulary (lowercased, split, deduped): cat cats bat hat dog dig xyz.
    Deletion-key buckets with 2..cap members:
      'cat' <- {cat (own key), cats (delete s)}        -> pair cat-cats;
      'at'  <- {cat, bat, hat} (each deletes its head) -> pairs bat-cat,
               bat-hat, cat-hat;
      'dg'  <- {dog, dig}                              -> pair dig-dog;
    every other bucket is a singleton. All five candidate pairs are
    true Levenshtein<=1 neighbors, canonicalized word_a < word_b:
    no candidate is filtered, xyz pairs with nothing. The duplicate
    word 'cat' across two part names must not duplicate pairs
    (vocabulary is DISTINCT)."""
    rows = [
        (1, "cat cats"),
        (2, "bat hat"),
        (3, "Dog dig"),   # lowercase law: Dog -> dog
        (4, "cat xyz"),   # duplicate vocab word + an isolated word
    ]
    crafted.write(spark, tmp_path, "part", rows, "p_partkey long, p_name string")
    want = [
        ("bat", "cat", 1),
        ("bat", "hat", 1),
        ("cat", "cats", 1),
        ("cat", "hat", 1),
        ("dig", "dog", 1),
    ]
    got = sorted(
        tuple(r) for r in text_symspell_vocab_pairs(spark, str(tmp_path)).collect()
    )
    assert got == want
    spec = all_specs()["text_symspell_vocab_pairs"]
    assert sorted(crafted.oracle(tmp_path, ("part",), spec.sql)) == want


def test_multimodal_meta_by_source_hand_truth(spark, tmp_path):
    """Metadata rollup over the fake-binary asset seam, by hand.

    s1: docs 'ab', 'ab', 'straße' -> 3 assets; UTF-8 payload bytes
    2+2+7=11 (ß is two bytes — the octet/char seam the oracle's
    octet_length must agree on); 2 distinct payload hashes.
    NULL source: one 1-byte doc — its own group on both engines.
    s2: the EMPTY text is still an asset (0 bytes, sha256('')).
    The NULL-text doc is NOT an asset (ingestion contract) and must
    not count anywhere."""
    rows = [
        (1, "ab", "s1"),
        (2, "ab", "s1"),
        (3, "straße", "s1"),
        (4, None, "s1"),
        (5, "x", None),
        (6, "", "s2"),
    ]
    crafted.write(spark, tmp_path, "documents", rows, "doc_id long, text string, source string")
    want = [
        (None, 1, 1, 1),
        ("s1", 3, 11, 2),
        ("s2", 1, 0, 1),
    ]
    got = sorted(
        (tuple(r) for r in multimodal_meta_by_source(spark, str(tmp_path)).collect()),
        key=lambda r: (r[0] is not None, r[0] or ""),
    )
    assert got == want
    spec = all_specs()["multimodal_meta_by_source"]
    assert (
        sorted(
            crafted.oracle(tmp_path, ("documents",), spec.sql),
            key=lambda r: (r[0] is not None, r[0] or ""),
        )
        == want
    )


def test_simple_casing_fold_law_hand_truth(spark, tmp_path):
    """Simple-casing fold law (r14 band-6 differential find, seed 615):
    Java/Python FULL lowercase vs RE2/utf8proc SIMPLE lowercase diverge
    on exactly two non-locale code points, measured:

    * İ U+0130 — Java lower -> 'i' + combining dot U+0307 (Unicode's
      only expanding lowercase); the mark then SPLITS the [a-z]+ run:
      'İstanbul' tokenized ['i','stanbul'] on Spark vs ['istanbul'] on
      DuckDB (seed 615: wordcount 40 vs 39 rows, 12 more text-lane
      queries downstream);
    * Σ U+03A3 — Java lower -> final sigma ς word-finally (the only
      context-sensitive mapping); utf8proc -> σ everywhere.

    The law: the ENGINE-STANDARD fold pre-reduces İ->i, Σ->σ before
    lower(), adopting simple-casing semantics byte-identical to the
    native lower() every oracle already computes. Hand truth over
    'İstanbul İstanbul' + 'ΣΟΦΟΣ the' + 'The THE the':
    tokens = istanbul:2 (ONE token per word, not i+stanbul),
    the:4 (ΣΟΦΟΣ folds to all-σ, no [a-z] run). The strict
    reference-parity twin stays FULL-casing by contract (pinned in
    test_rdd_parity / tokens_strict tests)."""
    rows = [
        (1, "İstanbul İstanbul"),
        (2, "ΣΟΦΟΣ the"),
        (3, "The THE the"),
    ]
    crafted.write(spark, tmp_path, "documents", rows, "doc_id long, text string")
    from mapreduce_docker_spark.registry import all_specs as specs

    wc = specs()["wordcount"]
    want = [("istanbul", 2), ("the", 4)]
    got = sorted(tuple(r) for r in wc.fn(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(crafted.oracle(tmp_path, ("documents",), wc.sql)) == want


def test_sim_label_cohesion_quantized_mean_boundary_hand_truth(spark, tmp_path):
    """Quantized-mean law (r14, seed-547 differential find): the group
    mean of SAME-SCALE quantized scores concentrates probability mass ON
    the dround half-boundary, where one ulp of accumulation-order drift
    used to flip the rounded digit across engines (seed 547 measured
    avg of six 4-dp cosines = exactly 0.53605 -> Spark 0.5361 vs DuckDB
    0.536). The fix computes the mean as an exact scaled-integer BIGINT
    sum divided once, so both engines hit the boundary with the SAME
    double and round it the SAME way.

    Crafted boundary: label 0 has vectors e1, e1, e1, v where
    cos(e1, v) = 0.6001. Pairs: three e1-e1 cosines of 1.0000 (scaled
    10000 each) and three e1-v cosines of 0.6001 (scaled 6001 each).
    Exact mean = (3*10000 + 3*6001)/6 = 48003/6 = 8000.5 scaled
    = 0.80005 — DEAD ON the 4-dp half-boundary. The exact path gives
    0.80005*1e4 + 0.5 = 8001.0 exactly -> floor 8001 -> 0.8001 on BOTH
    engines (hand-checked: 48003/6 and /1e4 are exact in binary here).
    n_pairs 6, max 1.0."""
    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    c = 0.6001
    v = [c, math.sqrt(1.0 - c * c)] + [0.0] * (dim - 2)
    rows = [(1, e1, 0), (2, e1, 0), (3, e1, 0), (4, v, 0)]
    crafted.write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    want = [(0, 6, 0.8001, 1.0)]
    got = sorted(tuple(r) for r in sim_label_cohesion(spark, str(tmp_path)).collect())
    assert got == want
    spec = all_specs()["sim_label_cohesion"]
    assert sorted(crafted.oracle(tmp_path, ("embeddings",), spec.sql)) == want
