"""Twenty-eighth batch — hand truths for the r6-era members of the r10
window that had NO crafted coverage, written before the freeze (the
hand-truth-first rotation pattern, judge-r9 #3 continued).

This batch caught the round's one real latent bug BEFORE the driver
could meet it: ``array_embedding_stats`` THREW ``INVALID_ARRAY_INDEX``
under ANSI on a zero-length embedding (dead-encoder row) while its
DuckDB oracle ALSO threw (bare ``list_reduce`` on an empty list) — a
both-engines-crash the value-hash gate could never flag because the
fixture never carries empty arrays. The contract is now defined on both
sides (dim 0 / first NULL / norm 0.0; NULL array stays all-NULL) and
the parity is asserted here against the literal registered oracle SQL.

The other truths walk the cut lines the fixtures cannot: grouping-set
rows where a REAL NULL group key is distinguishable from the subtotal
row only by the grouping() flags, the rollup's three levels, the
single-row group whose sample stddev is NULL, NOT EXISTS under a NULL
join key, the tumbling window's half-open [start, end) boundary, the
approx-distinct tolerance guard on an empty slice, and the chain
dedup's strictly-greater 24 h boundary with its min-event_id tie rule.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

import crafted
from mapreduce_docker_spark.operators.dedup_queries import (
    DEDUP_CHAIN_DELAY_US,
    dedup_chain_within_delay,
)
from mapreduce_docker_spark.operators.relational_queries import (
    agg_approx_distinct_tolerance,
    agg_grouping_sets_status_priority,
    agg_rollup_region_nation,
    agg_stats_by_segment,
    join_anti_orderless_customers,
)
from mapreduce_docker_spark.streaming.window_queries import events_tumbling_10m
from mapreduce_docker_spark.registry import all_specs


def test_grouping_sets_null_key_vs_subtotal_flags(spark, tmp_path):
    """A REAL NULL o_orderpriority value produces a (NULL, NULL) output row
    in the (o_orderpriority) grouping set that is distinguishable from the
    grand-total row ONLY by the grouping() flags — (g_status, g_priority)
    = (1, 0) for the data NULL vs (1, 1) for the total. Conflating them is
    the classic grouping-sets bug."""
    orders = [
        (1, "O", None, 10.0),
        (2, "F", "1-URGENT", 20.0),
        (3, "O", "1-URGENT", 30.0),
    ]
    crafted.write(
        spark, tmp_path, "orders",
        orders,
        "o_orderkey long, o_orderstatus string, o_orderpriority string, "
        "o_totalprice double",
    )
    got = {
        (r["o_orderstatus"], r["o_orderpriority"], r["g_status"], r["g_priority"]): (
            r["n_orders"],
            r["total_price"],
        )
        for r in agg_grouping_sets_status_priority(spark, str(tmp_path)).collect()
    }
    assert got == {
        # (o_orderstatus) set: priority column is the SUBTOTAL NULL (g_p=1)
        ("O", None, 0, 1): (2, 40.0),
        ("F", None, 0, 1): (1, 20.0),
        # (o_orderpriority) set: the NULL row here is DATA (g_p=0)
        (None, None, 1, 0): (1, 10.0),
        (None, "1-URGENT", 1, 0): (2, 50.0),
        # () grand total: both flags set
        (None, None, 1, 1): (3, 60.0),
    }


def test_rollup_three_levels_hand_computed(spark, tmp_path):
    """region -> nation -> grand total, sums walked by hand; the nation
    subtotal row carries the region name with a NULL nation."""
    crafted.write(
        spark, tmp_path, "region",
        [(0, "AMERICA"), (1, "ASIA")],
        "r_regionkey int, r_name string",
    )
    crafted.write(
        spark, tmp_path, "nation",
        [(0, "BRAZIL", 0), (1, "JAPAN", 1), (2, "INDIA", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    crafted.write(
        spark, tmp_path, "customer",
        [(1, 0, 10.5), (2, 0, 20.0), (3, 1, 1.25), (4, 2, 4.0)],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    got = {
        (r["r_name"], r["n_name"]): (r["n_customers"], r["sum_bal"])
        for r in agg_rollup_region_nation(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("AMERICA", "BRAZIL"): (2, 30.5),
        ("AMERICA", None): (2, 30.5),
        ("ASIA", "JAPAN"): (1, 1.25),
        ("ASIA", "INDIA"): (1, 4.0),
        ("ASIA", None): (2, 5.25),
        (None, None): (4, 35.75),
    }


def test_stats_single_row_group_null_sample_stddev(spark, tmp_path):
    """stddev_samp of a 1-row group is NULL (n-1 = 0) on BOTH engines —
    never 0, never a divide; the 2-row group's stats are hand-derived
    (variance of {10, 20} = 50, stddev = sqrt(50))."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, "A", 7.5), (2, "B", 10.0), (3, "B", 20.0)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    got = {
        r["c_mktsegment"]: (
            r["n_customers"],
            r["sum_bal"],
            r["avg_bal"],
            r["min_bal"],
            r["max_bal"],
            r["std_bal"],
        )
        for r in agg_stats_by_segment(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (1, 7.5, 7.5, 7.5, 7.5, None),
        "B": (2, 30.0, 15.0, 10.0, 20.0, crafted.r(math.sqrt(50.0), 4)),
    }


def test_anti_join_status_filter_and_null_key(spark, tmp_path):
    """NOT EXISTS (... o_orderstatus = 'P'): a customer with only
    completed orders is KEPT (the filter precedes the anti join), and an
    order with a NULL o_custkey matches nobody (equality with NULL is
    never true) so it excludes no one."""
    crafted.write(
        spark, tmp_path, "customer",
        [(1, "c one"), (2, "c two"), (3, "c three")],
        "c_custkey long, c_name string",
    )
    crafted.write(
        spark, tmp_path, "orders",
        [(10, 1, "O"), (11, 2, "P"), (12, None, "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )
    got = sorted(
        r["c_custkey"]
        for r in join_anti_orderless_customers(spark, str(tmp_path)).collect()
    )
    assert got == [1, 3]  # only customer 2 has an in-progress order


def test_tumbling_window_half_open_boundary(spark, tmp_path):
    """An event at EXACTLY 10:10:00 belongs to [10:10, 10:20), not to
    [10:00, 10:10) — and 10:09:59.999999 is the last microsecond of the
    earlier window."""
    t = dt.datetime
    rows = [
        (1, "a", t(2024, 1, 1, 10, 0, 0), 1.0),
        (2, "a", t(2024, 1, 1, 10, 9, 59, 999999), 2.0),
        (3, "a", t(2024, 1, 1, 10, 10, 0), 4.0),  # boundary: NEXT window
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, event_type string, ts timestamp, value double",
    )
    got = {
        (str(r["window_start"]), str(r["window_end"])): (
            r["n_events"],
            r["total_value"],
        )
        for r in events_tumbling_10m(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "2024-01-01 10:10:00"): (2, 3.0),
        ("2024-01-01 10:10:00", "2024-01-01 10:20:00"): (1, 4.0),
    }


def test_approx_distinct_tolerance_guard_and_exactness(spark, tmp_path):
    """An EMPTY events slice has no tolerance claim to make — its
    exact_nd = 0 row is filtered before the relative-error divide (the
    ANSI DIVIDE_BY_ZERO guard) — while the 3-key orders side must report
    within_5pct TRUE (HLL++ is exact at tiny cardinalities)."""
    crafted.write(
        spark, tmp_path, "orders",
        [(1, 7), (2, 7), (3, 8), (4, 9)],
        "o_orderkey long, o_custkey long",
    )
    crafted.write(
        spark, tmp_path, "events",
        [],
        "event_id long, user_id long, ts timestamp",
    )
    got = [
        (r["col_name"], r["exact_nd"], r["within_5pct"])
        for r in agg_approx_distinct_tolerance(spark, str(tmp_path)).collect()
    ]
    assert got == [("o_custkey", 3, True)]


def test_chain_dedup_strict_24h_boundary_and_tie(spark, tmp_path):
    """Chain rule per (user, event_type): keep iff first or STRICTLY more
    than 24 h after the last KEPT event. An event at exactly +24 h is a
    duplicate; +24 h +1 µs reopens the chain — and the next chain anchors
    at the REOPENED event, not the first. Two copies at the same kept
    timestamp keep the min event_id."""
    assert DEDUP_CHAIN_DELAY_US == 86_400_000_000
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h24 = dt.timedelta(hours=24)
    us1 = dt.timedelta(microseconds=1)
    rows = [
        (5, 1, "view", t0),            # kept (tie: ids 5 vs 9 -> 5)
        (9, 1, "view", t0),            # same us duplicate copy
        (2, 1, "view", t0 + h24),      # exactly +24h: NOT kept
        (3, 1, "view", t0 + h24 + us1),  # kept (> 24h): chain reopens HERE
        (4, 1, "view", t0 + 2 * h24),  # 24h - 1µs after event 3: NOT kept
        (6, 1, "view", t0 + 2 * h24 + 2 * us1),  # > 24h after 3: kept
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = sorted(
        (r["event_id"], str(r["ts"]))
        for r in dedup_chain_within_delay(spark, str(tmp_path)).collect()
    )
    assert got == [
        (3, str(t0 + h24 + us1)),
        (5, str(t0)),
        (6, str(t0 + 2 * h24 + 2 * us1)),
    ]


def test_array_stats_degenerate_contract_both_engines(spark, tmp_path):
    """The bug this batch caught: getItem(0) THREW under ANSI on a
    zero-length embedding, and the oracle's bare list_reduce threw on the
    same row — a both-engines crash invisible to the value-hash gate.
    Contract now: empty -> (dim 0, first NULL, norm 0.0); NULL -> all
    NULL. Asserted on BOTH engines, the oracle run verbatim from the
    registered SQL."""
    (
        spark.createDataFrame(
            [(1, [0.5, 1.5]), (2, []), (3, None)],
            "vec_id long, embedding array<float>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "embeddings.parquet"))
    )
    spec = all_specs()["array_embedding_stats"]
    got = sorted(tuple(r) for r in spec.fn(spark, str(tmp_path)).collect())
    want = [
        (1, 2, 0.5, crafted.r(math.sqrt(0.25 + 2.25), 6)),
        (2, 0, None, 0.0),
        (3, None, None, None),
    ]
    assert got == want
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    assert sorted(tuple(r) for r in con.execute(spec.sql).fetchall()) == want
