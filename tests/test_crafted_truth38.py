"""Thirty-eighth batch — the r11 random-differential finds, hand-walked.

tools/random_differential.py's inaugural seeded-random-fixture run (seed
1) measured 14 engine-vs-oracle divergences that ten rounds of driver
fixtures, the crafted NASTY sweep, and 37 crafted-truth batches never
reached — every one a COMBINATORIAL case (NULL order keys colliding
with value ties, a session gap of exactly the boundary, a wrong-length
vector inside an index, a mostly-NULL corr group). Each test here pins
the fixed law with a truth recomputed BY HAND in the docstring, on both
engines:

* window NULL-placement law — Spark ASC is NULLS FIRST, DuckDB NULLS
  LAST; every frame/analytic window over a nullable sort key now says
  NULLS LAST explicitly on both engines (the r10 ntile precedent made
  uniform): ``window_running_spend``, ``window_first_last_orders``,
  ``window_distribution_ranks``;
* order-time contract — undated orders are outside cohort-month
  semantics (``orders_cohort_ltv``), the event-time-contract precedent
  applied to orders;
* zero/NULL-quantity law — ``q2_min_cost_supplier``'s unit cost is
  NULL on a zero-quantity line (lazy CASE, never a divide: Spark ANSI
  threw DIVIDE_BY_ZERO where DuckDB's x/0 flowed NULL);
* session boundary law — Spark's session_window merge is INCLUSIVE at
  exactly the gap (measured micro-test: events 300s apart share a
  session; 300.000001s apart do not), so ``events_session_5m``'s
  oracle breaks only on gap STRICTLY > 5 min;
* pandas groupby dropna law — ``psapi_priority_order_stats`` keeps the
  NULL priority group (pandas drops it by default; SQL GROUP BY never
  does);
* pairwise-complete corr law — ``agg_stats_quantity_price``
  reconstructs corr with stddevs over the rows where BOTH inputs are
  non-NULL, the population corr itself uses;
* dimension law — a vector whose length differs from the index's
  fixed dimensionality is outside cosine space on both engines
  (``_unit_vectors`` / ``_SQL_UNIT``, the one ingress every cosine,
  SRP and IVF query starts from), checked engine-vs-oracle on every
  registered query that reads ``embeddings``;
* NULL-key chain law — ``dedup_chain_within_delay`` keys have no
  identity with a NULL component (the Q15/Q16 NULL-join-key precedent
  applied to the dedup key).
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

import crafted
from mapreduce_docker_spark import oracle
from mapreduce_docker_spark.operators.dedup_queries import (
    _SQL_UNIT,
    _unit_vectors,
    dedup_chain_within_delay,
)
from mapreduce_docker_spark.operators.psapi_queries import (
    q_psapi_priority_order_stats,
)
from mapreduce_docker_spark.operators.relational_queries import (
    agg_stats_quantity_price,
    orders_cohort_ltv,
    window_distribution_ranks,
    window_first_last_orders,
    window_running_spend,
)
from mapreduce_docker_spark.operators.tpch_queries import q2_min_cost_supplier
from mapreduce_docker_spark.registry import all_specs
from mapreduce_docker_spark.streaming.window_queries import events_session_5m


_ORDERS_NULLDATE = [
    # custkey 1, (orderkey, date, price): NULLS-LAST order with the
    # o_orderkey tiebreak is 1 (Jan 1), 5 (Jan 1), 3 (Jan 3), 6 (Jan 5,
    # NULL price), then the undated 2 and 4
    (1, 1, dt.datetime(2020, 1, 1), 10.0),
    (1, 2, None, 5.0),
    (1, 3, dt.datetime(2020, 1, 3), 7.0),
    (1, 4, None, 1.0),
    (1, 5, dt.datetime(2020, 1, 1), 2.0),
    (1, 6, dt.datetime(2020, 1, 5), None),
]
_ORDERS_SCHEMA = (
    "o_custkey long, o_orderkey long, o_orderdate timestamp, o_totalprice double"
)


def test_running_spend_null_dates_last_both_engines(spark, tmp_path):
    # running sums along 1,5,3,6,2,4: 10, 12, 19, 19 (NULL price adds
    # nothing), 24, 25; order_seq counts every row
    crafted.write(spark, tmp_path, "orders", _ORDERS_NULLDATE, _ORDERS_SCHEMA)
    want = sorted(
        [
            (1, 1, 10.0, 1),
            (1, 5, 12.0, 2),
            (1, 3, 19.0, 3),
            (1, 6, 19.0, 4),
            (1, 2, 24.0, 5),
            (1, 4, 25.0, 6),
        ]
    )
    got = sorted(tuple(r) for r in window_running_spend(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders",), all_specs()["window_running_spend"].sql)
    ) == want


def test_first_last_null_dates_last_both_engines(spark, tmp_path):
    # full-partition frame over the same order: first=1, last=4, second=5
    crafted.write(spark, tmp_path, "orders", _ORDERS_NULLDATE, _ORDERS_SCHEMA)
    want = sorted((1, k, 1, 4, 5) for k in (1, 2, 3, 4, 5, 6))
    got = sorted(
        tuple(r) for r in window_first_last_orders(spark, str(tmp_path)).collect()
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders",), all_specs()["window_first_last_orders"].sql)
    ) == want


def test_distribution_ranks_null_price_last_both_engines(spark, tmp_path):
    # one 'F' partition, prices 10, 10, 20, NULL -> NULLS-LAST total order
    # 1, 2, 3, 4 (all ranks distinct via the o_orderkey tiebreak):
    # percent_rank = (rank-1)/3 = 0, 1/3, 2/3, 1; cume_dist = k/4;
    # ntile(10) with 4 rows = 1..4. A NULL price at rank 1 (the old Spark
    # default) shifted every percent_rank in the partition.
    crafted.write(
        spark, tmp_path, "orders",
        [
            (1, "F", 10.0),
            (2, "F", 10.0),
            (3, "F", 20.0),
            (4, "F", None),
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    want = sorted(
        [
            (1, "F", 0.0, 0.25, 1),
            (2, "F", 0.3333, 0.5, 2),
            (3, "F", 0.6667, 0.75, 3),
            (4, "F", 1.0, 1.0, 4),
        ]
    )
    got = sorted(
        tuple(r) for r in window_distribution_ranks(spark, str(tmp_path)).collect()
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders",), all_specs()["window_distribution_ranks"].sql)
    ) == want


def test_cohort_ltv_undated_orders_excluded_both_engines(spark, tmp_path):
    # cust 1 cohorts at 2020-01 (100.0), reorders at offset 2 (50.0); its
    # undated 999.0 order and cust 2 (whose ONLY order is undated) are
    # outside cohort-month semantics entirely
    crafted.write(
        spark, tmp_path, "orders",
        [
            (1, 1, dt.datetime(2020, 1, 15), 100.0),
            (1, 2, dt.datetime(2020, 3, 10), 50.0),
            (1, 3, None, 999.0),
            (2, 4, None, 7.0),
        ],
        _ORDERS_SCHEMA,
    )
    want = sorted(
        [
            (dt.date(2020, 1, 1), 0, 1, 100.0, 100.0),
            (dt.date(2020, 1, 1), 2, 1, 150.0, 150.0),
        ]
    )
    got = sorted(tuple(r) for r in orders_cohort_ltv(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders",), all_specs()["orders_cohort_ltv"].sql)
    ) == want


def test_q2_zero_quantity_defines_no_unit_cost_both_engines(spark, tmp_path):
    # part 1's lines: qty 0 (no unit cost — the old raw division THREW
    # under ANSI), 90/3 = 30 (the min), NULL price and NULL qty (NULL).
    # part 2 has ONLY a zero-quantity line: no unit cost at all -> no row.
    crafted.write(spark, tmp_path, "region", [(1, "EUROPE")], "r_regionkey int, r_name string")
    crafted.write(
        spark, tmp_path, "nation",
        [(1, "NATION_1", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    crafted.write(
        spark, tmp_path, "supplier",
        [(1, "Supplier#1", 1, 100.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    crafted.write(
        spark, tmp_path, "part",
        [(1, "alpha part", "LARGE", 12), (2, "beta part", "LARGE", 11)],
        "p_partkey long, p_name string, p_type string, p_size int",
    )
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            (1, 1, 100.0, 0.0),
            (1, 1, 90.0, 3.0),
            (1, 1, None, 2.0),
            (1, 1, 80.0, None),
            (2, 1, 50.0, 0.0),
        ],
        "l_partkey long, l_suppkey long, l_extendedprice double, l_quantity double",
    )
    want = [(100.0, "Supplier#1", "NATION_1", 1, "alpha part", 30.0)]
    got = [tuple(r) for r in q2_min_cost_supplier(spark, str(tmp_path)).collect()]
    assert got == want
    assert crafted.oracle(
        tmp_path,
        ("region", "nation", "supplier", "part", "lineitem"),
        all_specs()["q2_min_cost_supplier"].sql,
    ) == want


def test_session_boundary_inclusive_merge_both_engines(spark, tmp_path):
    # user 1: 08:00:00 -> 08:05:00 (gap EXACTLY 300s: merges, measured
    # Spark semantics) -> 08:10:01 (gap 301s from the previous event:
    # splits). user 2: gap 299s merges. session_end = last event + 5 min.
    crafted.write(
        spark, tmp_path, "events",
        [
            (1, 1, dt.datetime(2024, 1, 1, 8, 0, 0)),
            (2, 1, dt.datetime(2024, 1, 1, 8, 5, 0)),
            (3, 1, dt.datetime(2024, 1, 1, 8, 10, 1)),
            (4, 2, dt.datetime(2024, 1, 1, 8, 0, 0)),
            (5, 2, dt.datetime(2024, 1, 1, 8, 4, 59)),
        ],
        "event_id long, user_id long, ts timestamp",
    )
    want = sorted(
        [
            (1, dt.datetime(2024, 1, 1, 8, 0, 0), dt.datetime(2024, 1, 1, 8, 10, 0), 2),
            (1, dt.datetime(2024, 1, 1, 8, 10, 1), dt.datetime(2024, 1, 1, 8, 15, 1), 1),
            (2, dt.datetime(2024, 1, 1, 8, 0, 0), dt.datetime(2024, 1, 1, 8, 9, 59), 2),
        ]
    )
    got = sorted(tuple(r) for r in events_session_5m(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("events",), all_specs()["events_session_5m"].sql)
    ) == want


def test_psapi_null_priority_group_kept_both_engines(spark, tmp_path):
    # NULL priority is a GROUP, not a dropped key: 2 orders, 2 customers,
    # 4500.0 revenue; the 500.0 order fails the >1000 filter
    crafted.write(
        spark, tmp_path, "orders",
        [
            (1, 10, 2000.0, "1-URGENT"),
            (2, 10, 3000.0, None),
            (3, 11, 1500.0, None),
            (4, 12, 500.0, None),
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderpriority string",
    )
    want = sorted(
        [("1-URGENT", 1, 1, 2000.0), (None, 2, 2, 4500.0)],
        key=lambda t: (t[0] is None, str(t[0])),
    )
    got = sorted(
        (tuple(r) for r in q_psapi_priority_order_stats(spark, str(tmp_path)).collect()),
        key=lambda t: (t[0] is None, str(t[0])),
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders",), all_specs()["psapi_priority_order_stats"].sql),
        key=lambda t: (t[0] is None, str(t[0])),
    ) == want


def test_corr_pairwise_complete_both_engines(spark, tmp_path):
    # group 'A': complete pairs (1,2),(2,4),(3,6) are perfectly linear ->
    # corr = 1.0 exactly. The half-NULL rows (10, NULL) and (NULL, 100)
    # are outside the pairwise population: covar_pop = ((1-2)(2-4) +
    # (2-2)(4-4) + (3-2)(6-4))/3 = 4/3 -> 1.3333. The SINGLE-column stats
    # still use every non-NULL value of their own column: stddev_pop of
    # {1,2,3,10} = sqrt(12.5) -> 3.535534; var_pop of {2,4,6,100} = 1730.
    # Before the fix the reconstruction divided by the {1,2,3,10} stddev
    # and reported 0.016 where the pairwise corr is 1.0.
    crafted.write(
        spark, tmp_path, "lineitem",
        [
            ("A", 1.0, 2.0),
            ("A", 2.0, 4.0),
            ("A", 3.0, 6.0),
            ("A", 10.0, None),
            ("A", None, 100.0),
        ],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    want = [("A", 1.0, 1.3333, 3.535534, 1730.0)]
    got = [tuple(r) for r in agg_stats_quantity_price(spark, str(tmp_path)).collect()]
    assert got == want
    assert crafted.oracle(
        tmp_path, ("lineitem",), all_specs()["agg_stats_quantity_price"].sql
    ) == want


# sixteen well-formed 64-dim vectors (0..15; 0/1, 2/3 and 4/5 are
# near-duplicate pairs) and every way to be outside cosine space (16..24)
def _vec(i: int) -> list[float]:
    base, eps = (i // 2, 0.05 * (i % 2)) if i < 6 else (i, 0.0)
    return [round(math.sin(7 * base + 3.1 * k) + eps * math.cos(k), 3) for k in range(64)]


_LAW_EMBEDDINGS = (
    [(i, _vec(i), i % 3) for i in range(16)]
    + [
        (16, [0.5] * 4, 0),                              # dim 4
        (17, [], 1),                                     # dim 0
        (18, None, 2),                                   # NULL vector
        (19, [0.0] * 64, 0),                             # zero norm
        (20, [float("nan")] * 64, 1),                    # NaN norm
        (21, [float("inf")] + [0.5] * 63, 2),            # +Inf component
        (22, [0.5] * 63 + [float("-inf")], 0),           # -Inf component
        (23, [0.5] * 31 + [None] + [0.5] * 32, 1),       # NULL component
        (24, [0.5] * 65, 2),                             # dim 65
    ]
)
_EMBEDDING_ORACLE_QUERIES = sorted(
    name
    for name, spec in all_specs().items()
    if spec.sql is not None and "embeddings" in spec.sql
)


def _write_law_embeddings(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "embeddings", _LAW_EMBEDDINGS,
        "vec_id long, embedding array<float>, label int",
    )


def test_dimension_law_unit_vectors_both_engines(spark, tmp_path):
    # only the sixteen well-formed 64-dim vectors survive the cosine-space
    # ingress; the dim-4, empty, NULL, zero, NaN, +/-Inf, NULL-element
    # and dim-65 vectors are all outside it by law (dim / zero-norm /
    # finite-norm)
    _write_law_embeddings(spark, tmp_path)
    got = sorted(
        r["vec_id"] for r in _unit_vectors(spark, str(tmp_path)).collect()
    )
    assert got == list(range(16))
    orows = crafted.oracle(
        tmp_path, ("embeddings",), _SQL_UNIT + "SELECT vec_id FROM unit"
    )
    assert sorted(r[0] for r in orows) == list(range(16))


@pytest.mark.parametrize("name", _EMBEDDING_ORACLE_QUERIES)
def test_cosine_space_law_every_embedding_query(spark, tmp_path, name):
    """Every oracle-checked query over ``embeddings`` agrees with its
    oracle on the degenerate vectors above: one law for every ingress."""
    _write_law_embeddings(spark, tmp_path)
    spec = all_specs()[name]
    sdf = spec.fn(spark, str(tmp_path))
    con = oracle.connect(tmp_path, ("embeddings",))
    try:
        ores = con.execute(spec.sql)
        mismatch = oracle.diff(
            sdf.columns, sdf.collect(), [d[0] for d in ores.description], ores.fetchall()
        )
    finally:
        con.close()
    assert mismatch is None, f"{name}: {mismatch}"


def test_mom_growth_undated_orders_excluded_both_engines(spark, tmp_path):
    """Order-time contract on the monthly series (r11 seed-10 find, root
    cause DOUBLE: Spark sorts a NULL month first vs DuckDB last, AND
    DuckDB 1.0's hash aggregate can leak a corrupted non-NULL sentinel
    for a parquet-sourced NULL date_trunc key — so NULL months are
    excluded at ingress on BOTH engines, never ordered). Jan: prev NULL
    -> growth NULL; Feb: (150-100)/100 = 0.5; the undated 999.0 order is
    outside the series."""
    crafted.write(
        spark, tmp_path, "orders",
        [
            (1, 1, dt.datetime(2020, 1, 15), 100.0),
            (1, 2, dt.datetime(2020, 2, 10), 150.0),
            (1, 3, None, 999.0),
        ],
        _ORDERS_SCHEMA,
    )
    from mapreduce_docker_spark.operators.relational_queries import (
        orders_mom_revenue_growth,
    )

    want = sorted(
        [
            (dt.date(2020, 1, 1), 1, 100.0, None),
            (dt.date(2020, 2, 1), 1, 150.0, 0.5),
        ],
        key=str,
    )
    got = sorted(
        (tuple(r) for r in orders_mom_revenue_growth(spark, str(tmp_path)).collect()),
        key=str,
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("orders",), all_specs()["orders_mom_revenue_growth"].sql),
        key=str,
    ) == want


def test_retention_timeless_events_grant_no_cohort_both_engines(spark, tmp_path):
    """Event-time contract on retention cohorts: user 2's only event is
    timeless (no cohort at all), user 3's timeless event is ignored.
    Cohort week W0 = Mon 2024-01-01 holds users 1 and 3 (size 2); offset
    0 actives = {1, 3}, offset 1 actives = {1} -> retention 1.0 then
    0.5."""
    w0, w1 = dt.datetime(2024, 1, 3, 10), dt.datetime(2024, 1, 10, 10)
    crafted.write(
        spark, tmp_path, "events",
        [
            (1, 1, w0), (2, 1, w1),
            (3, 2, None),
            (4, 3, w0), (5, 3, None),
        ],
        "event_id long, user_id long, ts timestamp",
    )
    from mapreduce_docker_spark.operators.funnel_queries import (
        events_retention_cohorts,
    )

    want = sorted(
        [
            (dt.date(2024, 1, 1), 0, 2, 2, 1.0),
            (dt.date(2024, 1, 1), 1, 1, 2, 0.5),
        ]
    )
    got = sorted(
        tuple(r) for r in events_retention_cohorts(spark, str(tmp_path)).collect()
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("events",), all_specs()["events_retention_cohorts"].sql)
    ) == want


def test_enrichment_timeless_user_has_no_cohort_both_engines(spark, tmp_path):
    """Stream-static enrichment under the event-time contract: user 2's
    only activity is timeless -> no cohort-week dim row -> their events
    never enrich; user 1's two W0 'view' events count under their cohort
    week."""
    w0 = dt.datetime(2024, 1, 3, 10)
    crafted.write(
        spark, tmp_path, "events",
        [
            (1, 1, w0, "view"),
            (2, 1, w0 + dt.timedelta(hours=1), "view"),
            (3, 2, None, "view"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    from mapreduce_docker_spark.streaming.window_queries import (
        streaming_static_enrichment,
    )

    want = [(dt.date(2024, 1, 1), "view", 2)]
    got = sorted(
        tuple(r) for r in streaming_static_enrichment(spark, str(tmp_path)).collect()
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("events",), all_specs()["streaming_static_enrichment"].sql)
    ) == want


def test_langid_unlabeled_is_not_a_class_both_engines(spark, tmp_path):
    """NULL lang is not a trainable class (r11 seed-3 find): the engine's
    grid carried a NULL-lang candidate (and PREDICTED it for a real doc)
    while the oracle's equality join silently dropped it. Hand model over
    labeled docs 1 (en: aa bb) and 2 (fr: cc), vocab {aa,bb,cc} (v=3,
    unlabeled doc 3's words included), n_all=3 documents, Laplace lp =
    ln((c+1)/(t+v)), prior = ln(n_docs/n_all):

      en: t=2 -> lp(aa)=lp(bb)=ln(2/5), lp(cc)=ln(1/5); prior ln(1/3)
      fr: t=1 -> lp(aa)=lp(bb)=ln(1/4), lp(cc)=ln(2/4); prior ln(1/3)

      doc1(aa,bb): en 2*ln(.4)+ln(1/3) > fr 2*ln(.25)+ln(1/3) -> en
      doc2(cc):    fr ln(.5)+ln(1/3)   > en ln(.2)+ln(1/3)    -> fr
      doc3(aa,cc): fr ln(.25)+ln(.5)+ln(1/3) = -3.178054 beats
                   en ln(.4)+ln(.2)+ln(1/3)  = -3.624341      -> fr,
      actual NULL -> correct NULL. The unlabeled doc is scored, never a
      class, and never trains the model.
    """
    import math

    crafted.write(
        spark, tmp_path, "documents",
        [(1, "aa bb", "en"), (2, "cc", "fr"), (3, "aa cc", None)],
        "doc_id long, text string, lang string",
    )

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    s_doc1 = r6(2 * math.log(2 / 5) + math.log(1 / 3))
    s_doc2 = r6(math.log(2 / 4) + math.log(1 / 3))
    s_doc3 = r6(math.log(1 / 4) + math.log(2 / 4) + math.log(1 / 3))
    want = sorted(
        [
            (1, "en", s_doc1, "en", True),
            (2, "fr", s_doc2, "fr", True),
            (3, "fr", s_doc3, None, None),
        ]
    )
    from mapreduce_docker_spark.operators.textanalysis_queries import text_langid_nb

    got = sorted(tuple(r) for r in text_langid_nb(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("documents",), all_specs()["text_langid_nb"].sql)
    ) == want


def test_malformed_props_are_no_properties_both_engines(spark, tmp_path):
    """Malformed-props law (r11): an unparseable OR valid-but-non-object
    props string is NO properties on both engines. Measured divergences
    the law closes: Spark parse_json THROWS on 'not json {'
    (MALFORMED_RECORD_IN_PARSING; now try_parse_json), DuckDB's
    json_keys/json_extract_string THROW there without json_valid, and
    '[1, 2]' is [] keys (count 0) on DuckDB vs a NULL map on Spark
    without the json_type = OBJECT guard. Hand truths: doc 1's doubled
    values are 120 + 2 = 122 with 120 > 100 large; '{}' is the EMPTY map
    (0,0,0), distinct from the unparseable rows (all-NULL)."""
    crafted.write(
        spark, tmp_path, "events",
        [
            (1, "view", '{"k": 60, "j": 1}'),
            (2, "view", "not json {"),
            (3, "view", "[1, 2]"),
            (4, "view", "{}"),
            (5, "view", None),
            (6, "view", '{"k": 2}'),
        ],
        "event_id long, event_type string, props string",
    )
    from mapreduce_docker_spark.operators.relational_queries import (
        json_event_props,
        json_map_entries,
        json_variant_events,
        map_hof_event_props,
    )

    specs = all_specs()
    # json_event_props: k values {60, 2} -> avg 31.0, max 60; all 6 count
    want = [("view", 6, 31.0, 60)]
    assert [tuple(r) for r in json_event_props(spark, str(tmp_path)).collect()] == want
    assert crafted.oracle(tmp_path, ("events",), specs["json_event_props"].sql) == want

    # json_variant_events: only parsable OBJECT rows extract k
    want = sorted(
        [(1, 60, None), (2, None, None), (3, None, None),
         (4, None, None), (5, None, None), (6, 2, None)]
    )
    got = sorted(tuple(r) for r in json_variant_events(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(crafted.oracle(tmp_path, ("events",), specs["json_variant_events"].sql)) == want

    # json_map_entries: entries exist only for parsable objects with keys
    want = sorted([(1, "j", 1), (1, "k", 60), (6, "k", 2)])
    got = sorted(tuple(r) for r in json_map_entries(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(crafted.oracle(tmp_path, ("events",), specs["json_map_entries"].sql)) == want

    # map_hof: empty map (0,0,0) vs no-properties (NULL,NULL,NULL)
    want = sorted(
        [(1, 2, 122, 1), (2, None, None, None), (3, None, None, None),
         (4, 0, 0, 0), (5, None, None, None), (6, 1, 4, 0)]
    )
    got = sorted(tuple(r) for r in map_hof_event_props(spark, str(tmp_path)).collect())
    assert got == want
    assert sorted(crafted.oracle(tmp_path, ("events",), specs["map_hof_event_props"].sql)) == want


def test_chain_null_key_components_excluded_both_engines(spark, tmp_path):
    # (user 1, 'view'): first kept, +1h dropped (within 24h), +25h kept.
    # The NULL-user and NULL-type events have no chain identity.
    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)
    crafted.write(
        spark, tmp_path, "events",
        [
            (1, 1, "view", t0),
            (2, 1, "view", t0 + dt.timedelta(hours=1)),
            (3, 1, "view", t0 + dt.timedelta(hours=25)),
            (4, None, "view", t0),
            (5, 1, None, t0),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    want = sorted(
        [(1, 1, "view", t0), (3, 1, "view", t0 + dt.timedelta(hours=25))]
    )
    got = sorted(
        tuple(r) for r in dedup_chain_within_delay(spark, str(tmp_path)).collect()
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("events",), all_specs()["dedup_chain_within_delay"].sql)
    ) == want
