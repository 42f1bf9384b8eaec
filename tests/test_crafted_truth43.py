"""Forty-third batch — the r12 pre-freeze truths (judge-r11 next-round #5
plus the round's own band-4/edge-grid finds), every value hand-derived.

1. The JSON typed-extraction edge grid (valid-non-object, nested values,
   EXACT-duplicate keys, case-colliding keys, string/float/bool/null
   values, int32 overflow, whitespace-padded numeric strings) across all
   four JSON-surface queries. The r12 laws (SCALING.md "JSON
   typed-extraction laws", all measured first):
     * duplicate top-level keys => NO properties — Spark's VARIANT parser
       rejects them outright, get_json_object is first-wins, from_json
       keeps BOTH entries, DuckDB json_keys returns the key twice while
       json_extract_string is first-wins: four paths, four answers, so
       the family contracts them out uniformly;
     * typed extraction is STRICT integer-text (Spark try_cast
       string->int semantics): '2.9' is NULL (DuckDB TRY_CAST would
       ROUND it to 3 — the oracle carries a regexp guard), 'true' is
       NULL (variant_get int would coerce it to 1), int32 overflow is
       NULL on both, surrounding whitespace and a leading '+' are
       accepted by both engines' casts;
     * map-entry listing is decoupled from value typing: every key of a
       retained object emits a row, its value NULL unless integer-text
       (the old map<string,int> parse dropped the whole object when ONE
       value failed);
     * map_hof's usable guard additionally requires every value int32-
       or-JSON-null, because from_json(map<string,int>) nullifies the
       WHOLE map otherwise (and its transform_keys normalization threw
       DUPLICATE_MAP_KEY on exact-duplicate keys before the guard).

2. The Spark-SQL-text floor law (r12 band-4 nonfinite differential find
   on sql_interface_revenue_by_nation): Spark SQL's floor(double)
   returns LONG, clamping +Inf to Long.MAX (9.22e18 -> read back 9.22e16
   after /100) and NaN to 0, where DuckDB's double floor propagates
   both; raw-SQL queries must spell the dround two-branch form
   (functions/rounding.py spark_sql).

3. The langid unlabeled-class boundary (r12 window re-cert prime): a
   NULL-lang doc trains NO class but its tokens still widen the
   Laplace-smoothing vocabulary, and the doc itself is still scored and
   predicted from the labeled classes only (tie-break lang asc).
"""

from __future__ import annotations



import crafted
from mapreduce_docker_spark.operators.relational_queries import (
    json_event_props,
    json_map_entries,
    json_variant_events,
    map_hof_event_props,
    sql_interface_revenue_by_nation,
)
from mapreduce_docker_spark.operators.textanalysis_queries import text_langid_nb
from mapreduce_docker_spark.oracle import normalize
from mapreduce_docker_spark.registry import all_specs


# the shared JSON edge grid (event_id, event_type, props)
_GRID = [
    (1, "a", '{"k": 5}'),
    (2, "a", '{"k": 1, "k": 2}'),      # EXACT duplicate key
    (3, "a", '{"k": "7"}'),            # integer-text string value
    (4, "a", '{"k": 2.9}'),            # float (DuckDB TRY_CAST would round)
    (5, "a", '{"k": {"a": 1}}'),       # nested object value
    (6, "a", "[1, 2]"),                # valid non-object
    (7, "a", "not json {"),            # malformed
    (8, "a", None),                    # NULL props
    (9, "a", '{"k": null}'),           # JSON null value
    (10, "a", '{"k": -5}'),            # negative int
    (11, "a", '{"k": 3000000000}'),    # int32 overflow
    (12, "b", '{"Amt": 60, "amt": 7}'),  # case-colliding (NOT duplicate) keys
    (13, "b", '{"k": 60, "j": 3}'),    # two plain keys
    (14, "b", "{}"),                   # empty object
    (15, "b", '{"k": true}'),          # boolean (variant int would coerce to 1)
    (16, "b", '{"k": " 7"}'),          # whitespace-padded integer text
]
_GRID_SCHEMA = "event_id long, event_type string, props string"


def _grid(spark, tmp_path):
    crafted.write(spark, tmp_path, "events", _GRID, _GRID_SCHEMA)


def test_json_event_props_edge_grid_hand_truth(spark, tmp_path):
    """Per-event k under the laws: 1->5, 3->7, 10->-5 for type a (dup key,
    non-int values, overflow, malformed, non-object, NULL all -> NULL);
    13->60, 16->7 for type b. avg_a = (5+7-5)/3 = 7/3 -> 2.3333;
    avg_b = (60+7)/2 = 33.5."""
    _grid(spark, tmp_path)
    want = [("a", 11, 2.3333, 7), ("b", 5, 33.5, 60)]
    sdf = json_event_props(spark, str(tmp_path))
    want = normalize(want, sdf.columns)
    assert normalize(sdf.collect(), sdf.columns) == want
    spec = all_specs()["json_event_props"]
    orows = crafted.oracle(tmp_path, ("events",), spec.sql)
    assert normalize(orows, sdf.columns) == want


def test_json_variant_events_edge_grid_hand_truth(spark, tmp_path):
    """k_typed per event: only integer-TEXT values survive; the duplicate-
    key object is rejected by the variant parser itself (and by the
    oracle's explicit guard)."""
    _grid(spark, tmp_path)
    k = {1: 5, 3: 7, 10: -5, 13: 60, 16: 7}
    want = [(i, k.get(i), None) for i, _, _ in _GRID]
    sdf = json_variant_events(spark, str(tmp_path))
    want = normalize(want, sdf.columns)
    assert normalize(sdf.collect(), sdf.columns) == want
    spec = all_specs()["json_variant_events"]
    orows = crafted.oracle(tmp_path, ("events",), spec.sql)
    assert normalize(orows, sdf.columns) == want


def test_json_map_entries_edge_grid_hand_truth(spark, tmp_path):
    """One row per key of every retained object (valid, object, no
    duplicate keys); value typed independently per the integer-text law —
    the overflow key (11) and the non-int values (4, 5, 9, 15) keep their
    key row with a NULL value."""
    _grid(spark, tmp_path)
    want = [
        (1, "k", 5),
        (3, "k", 7),
        (4, "k", None),
        (5, "k", None),
        (9, "k", None),
        (10, "k", -5),
        (11, "k", None),
        (12, "Amt", 60),
        (12, "amt", 7),
        (13, "k", 60),
        (13, "j", 3),
        (14, None, None),  # placeholder removed below — empty object emits nothing
        (15, "k", None),
        (16, "k", 7),
    ]
    want = [w for w in want if w[1] is not None]
    sdf = json_map_entries(spark, str(tmp_path))
    want = normalize(want, sdf.columns)
    assert normalize(sdf.collect(), sdf.columns) == want
    spec = all_specs()["json_map_entries"]
    orows = crafted.oracle(tmp_path, ("events",), spec.sql)
    assert normalize(orows, sdf.columns) == want


def test_map_hof_edge_grid_hand_truth(spark, tmp_path):
    """Usable = valid object, no duplicate keys, every value int32-or-null.
    9 ({\"k\": null}) IS usable: n_keys 1, doubled_sum 0+NULL = NULL,
    n_large 0 (NULL > 100 filters out). 12: 60*2+7*2 = 134, one value over
    100. 13: 126, one over. 14: the empty-object contract (0, 0, 0)."""
    _grid(spark, tmp_path)
    vals = {
        1: (1, 10, 0),
        9: (1, None, 0),
        10: (1, -10, 0),
        12: (2, 134, 1),
        13: (2, 126, 1),
        14: (0, 0, 0),
    }
    want = [(i,) + vals.get(i, (None, None, None)) for i, _, _ in _GRID]
    sdf = map_hof_event_props(spark, str(tmp_path))
    want = normalize(want, sdf.columns)
    assert normalize(sdf.collect(), sdf.columns) == want
    spec = all_specs()["map_hof_event_props"]
    orows = crafted.oracle(tmp_path, ("events",), spec.sql)
    assert normalize(orows, sdf.columns) == want


def test_sql_interface_spark_floor_nonfinite_law(spark, tmp_path):
    """Raw-SQL rounding on nonfinite sums: nation ALPHA sums 10*(1-0.5)=5.0
    (floor(500.5)=500 -> 5.0), BETA's +Inf and GAMMA's NaN must flow
    through the two-branch form — the bare Spark-SQL floor() returned
    LONG, clamping Inf to Long.MAX/100 = 9.22e16 and NaN to 0 (the r12
    band-4 differential find)."""
    crafted.write(spark, tmp_path, "nation",
                  [(1, "ALPHA"), (2, "BETA"), (3, "GAMMA")],
                  "n_nationkey int, n_name string")
    crafted.write(spark, tmp_path, "customer", [(10, 1), (11, 2), (12, 3)],
                  "c_custkey long, c_nationkey int")
    crafted.write(spark, tmp_path, "orders", [(100, 10), (101, 11), (102, 12)],
                  "o_orderkey long, o_custkey long")
    crafted.write(spark, tmp_path, "lineitem",
                  [(100, 10.0, 0.5), (101, float("inf"), 0.0), (102, float("nan"), 0.0)],
                  "l_orderkey long, l_extendedprice double, l_discount double")
    want = [("ALPHA", 5.0), ("BETA", float("inf")), ("GAMMA", float("nan"))]
    sdf = sql_interface_revenue_by_nation(spark, str(tmp_path))
    want = normalize(want, sdf.columns)
    assert normalize(sdf.collect(), sdf.columns) == want
    spec = all_specs()["sql_interface_revenue_by_nation"]
    tables = ("lineitem", "orders", "customer", "nation")
    orows = crafted.oracle(tmp_path, tables, spec.sql)
    assert normalize(orows, sdf.columns) == want


def test_langid_unlabeled_class_boundary_hand_truth(spark, tmp_path):
    """Corpus: en doc \"the dog\", fr doc \"le chien\", UNLABELED doc
    \"zz zz\". The NULL-lang doc trains no class, but 'zz' joins the
    vocabulary (v = 5), and the doc is still scored against en/fr.

    Hand NB (Laplace, per-class tokens t=2, priors ln(1/3), n_all=3):
      lp(seen)   = ln(2/(2+5)) = ln(2/7) = -1.252762968...
      lp(unseen) = ln(1/7)     = -1.945910149...
      doc1 en-score = 2*ln(2/7) + ln(1/3) = -3.6041382...
        dround6: floor(-3604138.2 + 0.5)/1e6 = -3.604138
      doc3 scores = 2*ln(1/7) + ln(1/3) = -4.9904325... -> -4.990433 for
        BOTH classes; the tie breaks lang asc -> 'en', actual NULL, and
        correct = ('en' = NULL) = NULL.
    """
    docs = [
        (1, "the dog", "en", "s", 7),
        (2, "le chien", "fr", "s", 8),
        (3, "zz zz", None, "s", 5),
    ]
    crafted.write(spark, tmp_path, "documents", docs,
                  "doc_id long, text string, lang string, source string, length int")
    want = [
        (1, "en", -3.604138, "en", True),
        (2, "fr", -3.604138, "fr", True),
        (3, "en", -4.990433, None, None),
    ]
    sdf = text_langid_nb(spark, str(tmp_path))
    want = normalize(want, sdf.columns)
    assert normalize(sdf.collect(), sdf.columns) == want
    spec = all_specs()["text_langid_nb"]
    orows = crafted.oracle(tmp_path, ("documents",), spec.sql)
    assert normalize(orows, sdf.columns) == want


def test_histogram_finite_ingress_hand_truth(spark, tmp_path):
    """The finite-measure law applied to histograms (seed-444 band-4
    find): a NaN totalprice bucketed to 0 on Spark (LONG floor(NaN) = 0)
    and to the cap bucket on DuckDB (NaN-greatest least()), and nonfinite
    min/max poisoned every bucket bound. A histogram counts VALUES, so
    NULL is excluded with the non-finite — the legacy path dropped a NULL
    price into the CAP bucket on both engines, an accident of least()'s
    NULL-skipping (measured: least(NULL, 9) = 9 on Spark AND DuckDB).

    Hand truth on [NULL, NaN, +Inf, -Inf, 10, 20, 30]: the finite set
    {10,20,30} gives mn=10, mx=30, width 2; 10 -> bucket 0 [10,12),
    20 -> floor(5) = 5 [20,22), 30 -> capped into bucket 9 [28,30];
    the NULL/NaN/Inf rows vanish."""
    nan, inf = float("nan"), float("inf")
    rows = [(1, None), (2, nan), (3, inf), (4, -inf), (5, 10.0), (6, 20.0), (7, 30.0)]
    crafted.write(spark, tmp_path, "orders", rows, "o_orderkey long, o_totalprice double")
    from mapreduce_docker_spark.operators.profile_queries import (
        agg_histogram_totalprice,
    )

    want = [
        (0, 10.0, 12.0, 1),
        (5, 20.0, 22.0, 1),
        (9, 28.0, 30.0, 1),
    ]
    sdf = agg_histogram_totalprice(spark, str(tmp_path))
    want = normalize(want, sdf.columns)
    assert normalize(sdf.collect(), sdf.columns) == want
    spec = all_specs()["agg_histogram_totalprice"]
    orows = crafted.oracle(tmp_path, ("orders",), spec.sql)
    assert normalize(orows, sdf.columns) == want
