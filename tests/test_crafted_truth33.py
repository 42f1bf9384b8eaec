"""Thirty-third batch — pins for the r10 degenerate-sweep contracts
(tools/degenerate_sweep.py found 24 fixture-invisible engine-vs-oracle
divergences in one pass; every root cause fixed this round gets a
suite-resident pin here, asserted on BOTH engines where an oracle
exists):

* the zero-shingle law: a zero-token doc has NO shingles — the engine's
  old [''] whole-doc shingle made every contentless doc a jaccard-1.0
  "near-duplicate" of every other, while list_distinct([NULL])
  accidentally dropped it oracle-side;
* NULL event times are outside event-time semantics (Spark's window()
  drops them; the oracles now carry the matching WHERE);
* ranked cut lines order NULL keys LAST explicitly (Spark ASC defaults
  NULLS FIRST, DuckDB NULLS LAST);
* geomean is defined over positive values only (DuckDB ln(0) throws,
  numpy log poisons the group mean with -inf/NaN);
* '' vs NULL string folds: fingerprints of contentless docs are
  md5('') + rolling 0 on both engines, the brand/type concatenation
  propagates NULL like SQL ||, digitless brands cast to NULL not a
  crash, and an all-NULL language set aggregates to NULL while a
  real empty-string language still yields ''.
"""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

import crafted
from mapreduce_docker_spark.functions import texthash as th
from mapreduce_docker_spark.operators.dedup_queries import (
    dedup_cluster_survivorship,
    dedup_minhash_signatures,
)
from mapreduce_docker_spark.operators.profile_queries import dq_key_skew_report
from mapreduce_docker_spark.operators.relational_queries import scalar_string_part
from mapreduce_docker_spark.operators.textanalysis_queries import text_fingerprint
from mapreduce_docker_spark.operators.udf_queries import udf_pandas_udaf_geomean
from mapreduce_docker_spark.registry import all_specs
from mapreduce_docker_spark.streaming.window_queries import events_tumbling_10m


def _key(t):
    return tuple((x is None, str(x)) for x in t)


def test_zero_token_docs_have_no_shingles(spark, tmp_path):
    """Unit law on both helpers, then end-to-end: only token-bearing docs
    get MinHash signatures, identically on both engines. Before the fix
    the engine emitted a signature for '' / '   ' / NULL text (all
    sharing the [''] shingle) and the oracle did not."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "one"), (5, "one two three four")],
        "id int, text string",
    )
    sh = sorted((r["id"], r["s"]) for r in th.shingle_rows(df, ["id"]).collect())
    # empty, whitespace-only and NULL text have no shingles; a short doc
    # keeps the whole-doc shingle
    assert sh == [(4, "one"), (5, "one two three"), (5, "two three four")]

    docs = [
        (1, ""),
        (2, None),
        (3, "   "),
        (4, "alpha beta gamma delta"),
        (5, "omega psi chi"),
    ]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["sig"])
        for r in dedup_minhash_signatures(spark, str(tmp_path)).collect()
    )
    assert [d for d, _ in got] == [4, 5]
    spec = all_specs()["dedup_minhash_signatures"]
    assert got == sorted(crafted.oracle(tmp_path, ["documents"], spec.sql), key=_key)


def test_null_event_time_outside_window_semantics(spark, tmp_path):
    """An event with a NULL ts contributes to NO tumbling window on
    either engine — Spark's window() drops it natively, the oracle now
    filters it explicitly."""
    rows = [
        (1, "a", dt.datetime(2024, 1, 1, 10, 1), 2.0),
        (2, "a", None, 100.0),   # timeless: in no window
        (3, None, dt.datetime(2024, 1, 1, 10, 2), 3.0),  # NULL type groups
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, event_type string, ts timestamp, value double",
    )
    got = sorted(
        (
            (str(r["window_start"]), r["event_type"], r["n_events"], r["total_value"])
            for r in events_tumbling_10m(spark, str(tmp_path)).collect()
        ),
        key=lambda t: (t[0], t[1] or ""),
    )
    assert got == [
        ("2024-01-01 10:00:00", None, 1, 3.0),
        ("2024-01-01 10:00:00", "a", 1, 2.0),
    ]
    spec = all_specs()["events_tumbling_10m"]
    orows = sorted(crafted.oracle(tmp_path, ["events"], spec.sql), key=_key)
    # two rows, none of them the timeless event's NULL window
    assert len(orows) == 2 and all(r[0] is not None for r in orows)


def test_skew_rank_orders_null_key_last(spark, tmp_path):
    """Three keys tied at n = 2 including a NULL: the NULL key takes the
    LAST rank of the tie on both engines (Spark's ASC default would have
    put it first)."""
    t = dt.datetime(2024, 1, 1)
    ev = [(1, 5, t), (2, 5, t), (3, 9, t), (4, 9, t), (5, None, t), (6, None, t)]
    crafted.write(
        spark, tmp_path, "events",
        ev,
        "event_id long, user_id long, ts timestamp",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(1, 1)],
        "o_orderkey long, o_custkey long",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [(1, 1)],
        "l_orderkey long, l_partkey long",
    )
    got = {
        r["rnk"]: r["key"]
        for r in dq_key_skew_report(spark, str(tmp_path)).collect()
        if r["key_col"] == "events.user_id"
    }
    assert got == {1: 5, 2: 9, 3: None}


def test_geomean_positive_domain(spark, tmp_path):
    """Zero and NULL order values are out of the geometric-mean domain on
    both engines; a group with ONLY such values vanishes entirely."""
    orders = [
        (1, "1-URGENT", 4.0),
        (2, "1-URGENT", 16.0),
        (3, "1-URGENT", 0.0),    # out of domain
        (4, "1-URGENT", None),   # out of domain
        (5, "5-LOW", 0.0),       # group vanishes
    ]
    crafted.write(
        spark, tmp_path, "orders",
        orders,
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    got = {
        r["o_orderpriority"]: r["geo_price"]
        for r in udf_pandas_udaf_geomean(spark, str(tmp_path)).collect()
    }
    assert got == {"1-URGENT": crafted.r(math.exp((math.log(4) + math.log(16)) / 2), 4)}


def test_string_part_null_propagation_and_cast_guard(spark, tmp_path):
    """A digitless brand casts to NULL (both engines previously CRASHED:
    ANSI CAST('' AS INT) and DuckDB alike), and brand/type concatenation
    propagates NULL like SQL || instead of concat_ws's silent skip."""
    parts = [
        (1, "widget", "Brand#13", "SMALL PLATED", 4, 1.0),
        (2, "gadget", "BrandX", None, 5, 2.0),       # no digits, NULL type
        (3, None, None, "LARGE", 6, 3.0),
    ]
    crafted.write(
        spark, tmp_path, "part",
        parts,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    got = {
        r["p_partkey"]: (r["brand_num"], r["brand_type"])
        for r in scalar_string_part(spark, str(tmp_path)).collect()
    }
    assert got[1] == (13, "Brand#13/SMALL PLATED")
    assert got[2] == (None, None)  # digitless brand; NULL type propagates
    assert got[3] == (None, None)
    spec = all_specs()["scalar_string_part"]
    orows = {r[0]: r for r in sorted(crafted.oracle(tmp_path, ["part"], spec.sql), key=_key)}
    srows = {
        r["p_partkey"]: tuple(r) for r in scalar_string_part(spark, str(tmp_path)).collect()
    }
    assert srows == orows


def test_fingerprint_contentless_docs_align(spark, tmp_path):
    """NULL, empty and whitespace-only text all fingerprint as the empty
    token stream — md5('') and rolling hash 0 — on BOTH engines (DuckDB's
    array_to_string([]) is NULL and needed the coalesce; the engine's
    rolling fold over a NULL array needed the token coalesce)."""
    docs = [(1, None), (2, ""), (3, "   "), (4, "alpha beta")]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in text_fingerprint(spark, str(tmp_path)).collect())
    md5_empty = "d41d8cd98f00b204e9800998ecf8427e"
    assert [(d, m, rf) for d, m, rf in got][:3] == [
        (1, md5_empty, 0),
        (2, md5_empty, 0),
        (3, md5_empty, 0),
    ]
    spec = all_specs()["text_fingerprint"]
    assert got == sorted(crafted.oracle(tmp_path, ["documents"], spec.sql), key=_key)


def test_survivorship_langs_null_set_vs_empty_string(spark, tmp_path):
    """A cluster whose members all have NULL lang reports langs = NULL
    (SQL string_agg over no non-NULL values); a cluster whose members
    carry the empty-STRING lang reports '' — the two must not collapse.
    Clusters are forced by identical texts (jaccard 1.0)."""
    text_a = "alpha beta gamma delta epsilon"
    text_b = "omega psi chi phi upsilon"
    docs = [
        (1, text_a, None, 30),
        (2, text_a, None, 30),
        (3, text_b, "", 25),
        (4, text_b, "", 25),
    ]
    crafted.write(
        spark, tmp_path, "documents",
        docs,
        "doc_id long, text string, lang string, n_chars long",
    )
    two_member = {
        r["rep_doc_id"]: r["langs"]
        for r in dedup_cluster_survivorship(spark, str(tmp_path)).collect()
        if r["n_members"] == 2
    }
    assert two_member == {2: None, 4: ""}
