"""Thirty-second batch — JSON/map/array degenerate contracts, with BOTH
engines asserted against the registered oracle SQL (the technique that
caught this round's second and third latent divergences):

* ``array_hof_embeddings``: the old ``zip_with(e, sequence(1, size))``
  index built Spark's DESCENDING ``[1, 0]`` on an empty array, padded
  with NULLs and folded the weighted sum to NULL where the oracle said
  0.0 — and a NULL array folded the oracle's seeded list to 0.0 where
  Spark said NULL. Fixed to the indexed-transform fold + a CASE; the
  contract (empty -> 0.0, NULL -> NULL) is pinned on both engines;
* ``map_hof_event_props``: the oracle's unnest + GROUP BY silently
  DROPPED zero-key and NULL-props events that the engine's map
  expressions keep — rewritten to per-event list expressions; contract
  (empty map -> (0,0,0); NULL props -> all NULL) pinned on both
  engines, plus the strict mv > 100 boundary (a doubled value of
  exactly 100 is not 'large');
* ``json_event_props``: a missing '$.k' is NULL and aggregate-skipped,
  a group where no event carries k reports NULL avg/max;
* ``json_variant_events``: typed variant_get on a missing key is NULL,
  try_variant_get on a missing path is NULL;
* ``join_semi_urgent_customers``: semi-join multiplicity — two urgent
  orders still yield ONE customer row.
"""

from __future__ import annotations

import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    array_hof_embeddings,
    join_semi_urgent_customers,
    json_event_props,
    json_variant_events,
    map_hof_event_props,
)
from mapreduce_docker_spark.registry import all_specs


def test_array_hof_degenerate_contract_both_engines(spark, tmp_path):
    """empty -> (0, false, true, 0.0); NULL -> all NULL; and the strict
    |x| > 0.29 extreme gate with a dyadic 0.25 safely inside it."""
    (
        spark.createDataFrame(
            [(1, [0.5, -0.25, 0.0]), (2, []), (3, None)],
            "vec_id long, embedding array<float>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "embeddings.parquet"))
    )
    want = [
        # weighted: 0.5*1 - 0.25*2 + 0*3 = 0.0; 0.5 is extreme, 0 not pos
        (1, 1, True, True, 0.0),
        (2, 0, False, True, 0.0),   # vacuous forall; seeded fold
        (3, None, None, None, None),
    ]
    got = sorted(tuple(r) for r in array_hof_embeddings(spark, str(tmp_path)).collect())
    assert got == want
    spec = all_specs()["array_hof_embeddings"]
    assert sorted(crafted.oracle(tmp_path, ["embeddings"], spec.sql)) == want


def test_map_hof_degenerate_contract_both_engines(spark, tmp_path):
    """empty map -> (0, 0, 0) — a row, not an absence; NULL props -> all
    NULL; doubled 51 -> 102 is large, doubled 50 -> exactly 100 is NOT
    (strict >)."""
    rows = [
        (1, "a", '{"a": 10, "b": 51}'),
        (2, "a", '{"m": 50}'),
        (3, "b", "{}"),
        (4, "b", None),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, event_type string, props string",
    )
    want = [
        (1, 2, 122, 1),
        (2, 1, 100, 0),
        (3, 0, 0, 0),
        (4, None, None, None),
    ]
    got = sorted(
        (tuple(r) for r in map_hof_event_props(spark, str(tmp_path)).collect()),
        key=lambda t: t[0],
    )
    assert got == want
    spec = all_specs()["map_hof_event_props"]
    orows = crafted.oracle(tmp_path, ["events"], spec.sql)
    assert sorted(orows, key=lambda t: t[0]) == want


def test_json_props_missing_key_aggregation(spark, tmp_path):
    """$.k missing (or props NULL) extracts NULL: avg/max skip it, and a
    group where NO event carries k reports NULL for both while still
    counting its events."""
    rows = [
        (1, "a", '{"k": 7, "z": 1}'),
        (2, "a", '{"z": 3}'),        # k missing
        (3, "b", "{}"),
        (4, "b", None),
        (5, "c", '{"k": 10}'),
        (6, "c", '{"k": 20}'),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, event_type string, props string",
    )
    got = {
        r["event_type"]: (r["n_events"], r["avg_k"], r["max_k"])
        for r in json_event_props(spark, str(tmp_path)).collect()
    }
    assert got == {
        "a": (2, 7.0, 7),
        "b": (2, None, None),
        "c": (2, 15.0, 20),
    }


def test_variant_typed_get_and_missing_path(spark, tmp_path):
    """variant_get('$.k', int) is NULL when k is absent; try_variant_get
    on the always-missing path is NULL on every row."""
    rows = [(1, '{"k": 42}'), (2, '{"z": 1}')]
    crafted.write(spark, tmp_path, "events", rows, "event_id long, props string")
    got = {
        r["event_id"]: (r["k_typed"], r["k_missing"])
        for r in json_variant_events(spark, str(tmp_path)).collect()
    }
    assert got == {1: (42, None), 2: (None, None)}


def test_semi_join_multiplicity(spark, tmp_path):
    """Two urgent orders produce ONE customer row (semi join), and the
    medium-priority customer never appears."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, "c1"), (2, "c2")],
        "c_custkey long, c_name string",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(10, 1, "1-URGENT"), (11, 1, "1-URGENT"), (12, 2, "3-MEDIUM")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    got = [
        (r["c_custkey"], r["c_name"])
        for r in join_semi_urgent_customers(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, "c1")]
