"""Twenty-fifth batch of hand-computed truths — pre-written for the r10
rotation window (judge-r9 next-round #3): the trap-prone funnel/cohort
members of the r5-era freshness cohort, each fixture built so a boundary
branch provably fires BEFORE the driver window re-certifies the name.

* first-touch attribution: the session-gap EQUALITY boundary (gap == 6 h
  does NOT open a session; only strictly greater does) and the same-
  timestamp tie broken by event_id;
* time-bounded funnel: all three window edges — same-us click excluded
  (strictly after the view), click AT view+3 h included (inclusive
  upper), purchase AT the click's us excluded (strictly after);
* retention cohorts: Monday week truncation (a Sunday belongs to the
  week opened 6 days earlier) and per-cohort distinct-user accounting;
* gap-fill LOCF: the grid spans the GLOBAL event date bounds (an
  out-of-slice user widens every user's grid), leading gaps stay NULL;
* cohort LTV: a skipped month-offset (0 then 3, nothing between) still
  accumulates correctly across a calendar-year boundary (Nov -> Feb).
"""

from __future__ import annotations

import datetime as dt

import crafted
from mapreduce_docker_spark.operators.funnel_queries import (
    SESSION_GAP_US,
    events_daily_gapfill_locf,
    events_first_touch_attribution,
    events_funnel_within_window,
    events_retention_cohorts,
)
from mapreduce_docker_spark.operators.relational_queries import orders_cohort_ltv


def _us(t: dt.datetime) -> dt.datetime:
    return t


def test_first_touch_gap_equality_and_same_us_tie(spark, tmp_path):
    """Session boundary is STRICTLY greater than the 6 h gap: a click
    exactly 6 h after the view stays in the view's session, a purchase
    6 h + 1 µs after the click opens a new one. A same-timestamp pair is
    ordered by event_id, so the lower id is the session's first touch."""
    assert SESSION_GAP_US == 6 * 3_600_000_000
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        # user 1: view .. +6h click (SAME session) .. +6h+1µs purchase (NEW)
        (1, 1, "view", t0),
        (2, 1, "click", t0 + dt.timedelta(hours=6)),
        (3, 1, "purchase", t0 + dt.timedelta(hours=12, microseconds=1)),
        # user 2: click and view at the SAME us — event_id 4 < 5 makes the
        # click the first touch; the purchase an hour later converts it
        (4, 2, "click", t0),
        (5, 2, "view", t0),
        (6, 2, "purchase", t0 + dt.timedelta(hours=1)),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {
        r["first_touch"]: (r["n_sessions"], r["n_converted"], r["conversion_rate"])
        for r in events_first_touch_attribution(spark, str(tmp_path)).collect()
    }
    # user 1 session 1 = {view, click(+6h)} no purchase; session 2 = {purchase}
    assert got == {
        "view": (1, 0, 0.0),
        "purchase": (1, 1, 1.0),
        "click": (1, 1, 1.0),
    }


def test_funnel_window_all_three_edges(spark, tmp_path):
    """view->click->purchase within 3 h of the FIRST view, every edge
    walked: user 1's same-us click does not count (strictly after the
    view), the click AT +3 h does (inclusive), and the purchase AT the
    click's own us does not (strictly after the click). User 2 lands the
    purchase AT +3 h exactly — inside. User 3 has no view at all."""
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        (1, 1, "view", t0),
        (2, 1, "click", t0),            # same us as the view: excluded
        (3, 1, "click", t0 + 3 * h),    # AT t1+3h: inclusive, t2 = +3h
        (4, 1, "purchase", t0 + 3 * h), # AT t2: needs to be strictly after
        (5, 2, "view", t0),
        (6, 2, "click", t0 + h),
        (7, 2, "purchase", t0 + 3 * h), # > t2 (=+1h) and <= t1+3h: counted
        (8, 3, "click", t0),            # no view: contributes nothing
        (9, 3, "purchase", t0 + h),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    out = events_funnel_within_window(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["viewed"], r["clicked_within"], r["purchased_within"]) == (2, 2, 1)


def test_retention_cohorts_monday_weeks_hand_computed(spark, tmp_path):
    """2024-01-01 is a Monday. User 1 first appears SUNDAY Jan 7 — that is
    still the week of Jan 1 — and again Monday Jan 8 (offset 1). User 3
    shares user 1's cohort but never returns; user 2's own first week is
    Jan 8, a separate cohort of size 1."""
    rows = [
        (1, dt.datetime(2024, 1, 7, 10)),   # Sunday -> week of Mon Jan 1
        (1, dt.datetime(2024, 1, 8, 9)),    # Monday -> week of Jan 8
        (3, dt.datetime(2024, 1, 3, 12)),   # week of Jan 1, never returns
        (2, dt.datetime(2024, 1, 8, 15)),   # cohort Jan 8
    ]
    crafted.write(spark, tmp_path, "events", rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort_week"]), r["week_offset"]): (
            r["n_active"],
            r["cohort_size"],
            r["retention"],
        )
        for r in events_retention_cohorts(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 2, 1.0),       # users 1 and 3
        ("2024-01-01", 1): (1, 2, crafted.r(1 / 2, 4)),  # only user 1 returned
        ("2024-01-08", 0): (1, 1, 1.0),       # user 2's own cohort
    }


def test_gapfill_locf_global_bounds_and_leading_gap(spark, tmp_path):
    """The dense grid spans the GLOBAL date bounds — including days
    contributed only by users OUTSIDE the reported <100 slice — so user 1
    gets a leading-gap day (NULL fill, flagged) before its first
    observation and a trailing carried day after its last. Two same-day
    events sum before the fill."""
    rows = [
        (1, dt.datetime(2024, 1, 2, 8), 1.25),
        (1, dt.datetime(2024, 1, 2, 9), 2.0),   # same day: v = 3.25
        (1, dt.datetime(2024, 1, 4, 8), 7.5),
        (500, dt.datetime(2024, 1, 1, 1), 9.0),  # widens lo to Jan 1
        (500, dt.datetime(2024, 1, 5, 1), 9.0),  # widens hi to Jan 5
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "user_id long, ts timestamp, value double",
    )
    got = {
        str(r["event_date"]): (r["v_raw"], r["v_filled"], r["was_gap"])
        for r in events_daily_gapfill_locf(spark, str(tmp_path)).collect()
    }
    # only user 1 is in the slice; its grid still runs Jan 1..Jan 5
    assert got == {
        "2024-01-01": (None, None, True),     # leading gap: nothing to carry
        "2024-01-02": (3.25, 3.25, False),
        "2024-01-03": (None, 3.25, True),
        "2024-01-04": (7.5, 7.5, False),
        "2024-01-05": (None, 7.5, True),
    }


def test_cohort_ltv_skipped_offset_across_year_boundary(spark, tmp_path):
    """Customer 1 orders in Nov 2023 and then not until Feb 2024 —
    month_offset 3 with offsets 1-2 entirely absent — and the cumulative
    frame must still carry offset 0's revenue forward; customer 2 anchors
    the cohort size at 2 for the per-customer division."""
    rows = [
        (1, 1, 100.0, dt.datetime(2023, 11, 15)),
        (2, 1, 50.0, dt.datetime(2024, 2, 10)),
        (3, 2, 30.0, dt.datetime(2023, 11, 20)),
    ]
    crafted.write(
        spark, tmp_path, "orders",
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    )
    got = {
        (str(r["cohort_month"]), r["month_offset"]): (
            r["cohort_customers"],
            r["cum_revenue"],
            r["ltv_per_customer"],
        )
        for r in orders_cohort_ltv(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("2023-11-01", 0): (2, 130.0, 65.0),
        ("2023-11-01", 3): (2, 180.0, 90.0),
    }
