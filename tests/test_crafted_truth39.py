"""Thirty-ninth batch — hand-truths PRE-WRITTEN for r12-window names
(the hand-truth-first pattern: q17/q2/q22/merge-CDC each caught a latent
bug this way before their driver slot). Trap-prone members of the r6
cohort rolling into the r12 freshness window:

* ``q4_order_priority_check`` — EXISTS over a half-open date window:
  both boundary dates walked by hand (>= in, < out), an order whose
  only lines ship ON the order date (strict >) or on a NULL date never
  qualifies, a NULL order date fails the range, TWO late lines still
  count the order once (semi-join), and a NULL priority is a kept
  group;
* ``q12_shipmode_priority`` — conditional CASE sums: a NULL priority
  is neither high NOR low (IN and NOT IN are both NULL -> ELSE 0) yet
  its row still lands in the linestatus group; half-open shipdate
  boundaries; NULL shipdate excluded; dangling orderkey dropped by the
  inner join; a NULL linestatus is a kept group;
* ``text_train_val_split`` — the md5 band edges hit exactly: bucket 89
  is the LAST train id, 90 the FIRST val, 94 the LAST val, 95 the
  FIRST test (ids found by brute force over the real hash, recomputed
  here from hashlib so the pin is a third engine, not a copy).
"""

from __future__ import annotations

import datetime as dt
import hashlib


import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    q4_order_priority_check,
    q12_shipmode_priority,
)
from mapreduce_docker_spark.operators.textanalysis_queries import (
    text_train_val_split,
)
from mapreduce_docker_spark.registry import all_specs


def _key(t):
    return tuple((x is None, str(x)) for x in t)


def test_q4_exists_window_boundaries_both_engines(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "orders",
        [
            (1, dt.datetime(1997, 1, 1), "1-URGENT"),   # boundary IN
            (2, dt.datetime(1997, 10, 1), "1-URGENT"),  # boundary OUT
            (3, dt.datetime(1997, 5, 1), "5-LOW"),      # no strictly-late line
            (4, dt.datetime(1997, 6, 1), None),         # NULL priority group
            (5, dt.datetime(1997, 7, 1), "1-URGENT"),   # two late lines, one order
            (6, None, "2-HIGH"),                        # NULL date out of range
        ],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (1, dt.datetime(1997, 1, 5)),
            (2, dt.datetime(1997, 12, 1)),
            (3, dt.datetime(1997, 5, 1)),   # == orderdate: NOT late (strict >)
            (3, None),                      # NULL shipdate: > is NULL
            (4, dt.datetime(1997, 6, 2)),
            (5, dt.datetime(1997, 7, 2)),
            (5, dt.datetime(1997, 8, 1)),
            (6, dt.datetime(1998, 1, 1)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    want = sorted([("1-URGENT", 2), (None, 1)], key=_key)
    got = sorted(
        (tuple(r) for r in q4_order_priority_check(spark, str(tmp_path)).collect()),
        key=_key,
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders", "lineitem"),
                       all_specs()["q4_order_priority_check"].sql),
        key=_key,
    ) == want


def test_q12_null_priority_counts_neither_both_engines(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "orders",
        [(1, "1-URGENT"), (2, "3-MEDIUM"), (3, None), (4, "2-HIGH")],
        "o_orderkey long, o_orderpriority string",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (1, dt.datetime(1997, 1, 1), "F"),    # boundary IN, high
            (1, dt.datetime(1997, 12, 31), "O"),  # high
            (2, dt.datetime(1998, 1, 1), "F"),    # boundary OUT
            (2, dt.datetime(1997, 6, 1), "F"),    # low
            (3, dt.datetime(1997, 6, 1), "F"),    # NULL priority: neither
            (3, None, "F"),                       # NULL shipdate: out
            (4, dt.datetime(1997, 3, 1), None),   # NULL linestatus group, high
            (999, dt.datetime(1997, 5, 1), "F"),  # dangling: inner join drops
        ],
        "l_orderkey long, l_shipdate timestamp, l_linestatus string",
    )
    want = sorted([("F", 1, 1), ("O", 1, 0), (None, 1, 0)], key=_key)
    got = sorted(
        (tuple(r) for r in q12_shipmode_priority(spark, str(tmp_path)).collect()),
        key=_key,
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders", "lineitem"),
                       all_specs()["q12_shipmode_priority"].sql),
        key=_key,
    ) == want


def test_split_band_edges_exact_both_engines(spark, tmp_path):
    # ids brute-forced against the real md5: 17 -> bucket 89 (last train),
    # 66 -> 90 (first val), 12 -> 94 (last val), 43 -> 95 (first test),
    # 1 -> 79 (mid train), 2 -> 96 (mid test)
    ids = [17, 66, 12, 43, 1, 2]
    crafted.write(
        spark, tmp_path, "documents",
        [(d, "en") for d in ids],
        "doc_id long, lang string",
    )

    def third_engine(d):
        b = int(hashlib.md5(f"split:{d}".encode()).hexdigest()[:8], 16) % 100
        return "train" if b < 90 else ("val" if b < 95 else "test")

    want = sorted((d, "en", third_engine(d)) for d in ids)
    assert [w[2] for w in sorted(want)] == [
        "train", "test", "val", "train", "test", "val",
    ]  # sharpness: every band and both edges are present in the fixture
    got = sorted(tuple(r) for r in text_train_val_split(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("documents",), all_specs()["text_train_val_split"].sql)
    ) == want
