"""Thirty-fourth batch — pins for the late-r10 EXTENDED degenerate laws
(NaN/Inf components, pre-epoch timestamps, negative domains, multi-byte
payloads; SCALING.md "Degenerate-input contracts"):

* event-sequence law: a NULL event time has no position in the per-user
  order — before the law, Spark's NULLS-FIRST vs DuckDB's NULLS-LAST
  flipped lag/lead/session boundaries the moment one user held a
  timeless AND a timed event;
* post-epoch law: Spark's INITIAL watermark is the epoch, so a 1969
  event is late-by-construction in every watermarked operator — the
  oracle-carrying streams exclude it explicitly, and the day-per-batch
  expiry demo's calendar is span-bounded so one corrupt timestamp
  cannot stage ten thousand micro-batch files (measured pre-fix: ~10k);
* finite-norm law: DuckDB orders NaN GREATEST, so a NaN vector norm
  PASSES the > 0 zero-norm guard that must reject it — unit relations
  now require a finite positive norm on both engines, and the int8
  quantizer requires a finite scale (DuckDB CAST(floor(NaN)) throws
  where Spark's floor(NaN) is silently 0);
* sqrt domain guard: NULL off the non-negative domain on both engines
  (DuckDB throws on sqrt(-x), Spark NaNs — and Spark floor(NaN) = 0
  would then LIE a 0.0 into rounded output).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

import crafted
from mapreduce_docker_spark.operators.funnel_queries import events_sessionize
from mapreduce_docker_spark.operators.relational_queries import scalar_math_lineitem
from mapreduce_docker_spark.operators.similarity_queries import (
    emb_quantize_int8,
    sim_cosine_topk,
)
from mapreduce_docker_spark.registry import all_specs
from mapreduce_docker_spark.streaming import stream_demo as sd


def _key(t):
    return tuple((x is None, str(x)) for x in t)


def test_event_sequence_law_timeless_event_has_no_position(spark, tmp_path):
    """User 1 holds a timeless event between two timed ones: sessionize
    must see ONLY the timed pair (one session of 2 events), identically
    on both engines — before the law Spark ordered the NULL first and
    opened a phantom session where DuckDB ordered it last."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, t0),
        (2, 1, None),                      # timeless: no position
        (3, 1, t0 + dt.timedelta(minutes=5)),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, user_id long, ts timestamp",
    )
    got = [
        (r["user_id"], r["session_idx"], r["n_events"])
        for r in events_sessionize(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 1, 2)]
    spec = all_specs()["events_sessionize"]
    orows = sorted(crafted.oracle(tmp_path, ["events"], spec.sql), key=_key)
    assert len(orows) == 1 and orows[0][2] == 2


def test_post_epoch_law_and_expiry_span_bound(spark, tmp_path):
    """A 1969 event (a) never reaches the watermarked dedup stream on
    either engine, and (b) does NOT explode the expiry demo's staged
    calendar: the span bound keeps the day files at the real fixture's
    scale instead of ~10,000 (the measured pre-fix behavior)."""
    t69 = dt.datetime(1969, 12, 31, 23, 0, 0)
    t24 = dt.datetime(2024, 1, 5, 10, 0, 0)
    rows = [
        (1, t69, 7, "view"),
        (2, t24, 8, "view"),
        (3, t24 + dt.timedelta(days=1), 8, "click"),
    ]
    crafted.write(
        spark, tmp_path, "events",
        rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = sd.run_dedup_native_keys_stream(
        spark, str(tmp_path), query_name="t_epoch_law"
    )
    got = sorted((r["user_id"], r["event_type"]) for r in out.collect())
    assert got == [(8, "click"), (8, "view")]  # the 1969 view is out
    spec = all_specs()["streaming_dedup_native_keys"]
    assert got == [tuple(r) for r in sorted(crafted.oracle(tmp_path, ["events"], spec.sql), key=_key)]

    stage = sd._stage_expiry_day_files(spark, str(tmp_path))
    n_days = len([d for d in os.listdir(stage) if d.startswith("day_key=")])
    # post-epoch d0 = 2024-01-05; two calendar days, NOT a 1969-anchored
    # multi-thousand-day calendar
    assert n_days == 2, n_days


def test_finite_norm_law_rejects_nan_vector_on_both_engines(spark, tmp_path):
    """A vector with a NaN component has a NaN norm: DuckDB's
    NaN-is-greatest would PASS the bare > 0 guard, so the finite-norm law
    must exclude it from cosine space on BOTH engines; the Inf vector
    falls the same way. Only the two finite vectors pair up. Vectors are
    zero-padded to the index dimension (r11 dimension law) — appended
    zeros change no norm or cosine."""

    def p64(v):
        return v + [0.0] * (64 - len(v))

    vecs = [
        (1, p64([1.0, 0.0, 0.0, 0.0]), 0),
        (2, p64([0.5, 0.5, 0.0, 0.0]), 0),
        (3, p64([float("nan"), 1.0, 0.0, 0.0]), 0),
        (4, p64([float("inf"), 0.0, 0.0, 0.0]), 0),
        (5, p64([0.0, 0.0, 0.0, 0.0]), 0),  # zero-norm (standing law)
    ]
    crafted.write(
        spark, tmp_path, "embeddings",
        vecs,
        "vec_id long, embedding array<float>, label int",
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in sim_cosine_topk(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 2), (2, 1)]
    spec = all_specs()["sim_cosine_topk"]
    orows = sorted(crafted.oracle(tmp_path, ["embeddings"], spec.sql), key=_key)
    assert sorted((r[0], r[1]) for r in orows) == got


def test_finite_scale_law_quantizer(spark, tmp_path):
    """The int8 quantizer requires a finite positive scale: the NaN-component
    vector is out (DuckDB CAST(floor(NaN)) throws; Spark floor(NaN) = 0
    would silently fabricate zeros), the finite vector quantizes with the
    error bound intact on both engines."""
    vecs = [
        (1, [1.0, -0.5, 0.25, 0.0], 0),
        (2, [float("nan"), 1.0, 1.0, 1.0], 0),
    ]
    crafted.write(
        spark, tmp_path, "embeddings",
        vecs,
        "vec_id long, embedding array<float>, label int",
    )
    got = sorted(tuple(r) for r in emb_quantize_int8(spark, str(tmp_path)).collect())
    assert [r[0] for r in got] == [1]
    # scale 1/127; floor(x/s + 0.5) rounds HALF-UP toward +inf, so
    # -0.5/s = -63.5 quantizes to -63, not -64
    assert got[0][2] == "127|-63|32|0"
    spec = all_specs()["emb_quantize_int8"]
    assert got == [tuple(r) for r in sorted(crafted.oracle(tmp_path, ["embeddings"], spec.sql), key=_key)]


def test_sqrt_domain_guard(spark, tmp_path):
    """sqrt(-4) is NULL on both engines — not DuckDB's exception and not
    Spark's NaN (which floor-based rounding would silently print as 0)."""
    li = [(1, 1, -4.0, 100.0, 0.0625, 0.0), (2, 2, 9.0, 100.0, 0.0625, 0.0)]
    crafted.write(
        spark, tmp_path, "lineitem",
        li,
        "l_orderkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double",
    )
    got = {
        r["l_orderkey"]: r["qty_sqrt"]
        for r in scalar_math_lineitem(spark, str(tmp_path)).collect()
    }
    assert got == {1: None, 2: 3.0}
    spec = all_specs()["scalar_math_lineitem"]
    orows = sorted(crafted.oracle(tmp_path, ["lineitem"], spec.sql), key=_key)
    assert {r[0]: r[4] for r in orows} == got  # qty_sqrt is column 5
