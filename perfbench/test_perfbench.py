"""Tests of the benchmark itself: generators, checks, failure accounting
and the event-log reader.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the root of a checkout; the Spark tests start a small local
session of their own.
"""

from __future__ import annotations

import collections
import hashlib
import os
import re
import sys

import pytest

import check
import compare
import eventlog
import gen
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _digest(path: str) -> str:
    h = hashlib.sha1()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------------------
# generators


def test_corpus_same_seed_same_bytes_other_seed_differs(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_corpus(str(tmp_path / name), seed, 200_000, 2, vocab_size=5_000)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_tables_same_seed_same_bytes_other_seed_differs(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_tables(str(tmp_path / name), seed, 0.001, 50, 2, 20)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def _fixture_types() -> dict:
    """``{table: {column: type}}`` from FIXTURES.md's synthetic-table section."""
    with open(os.path.join(ROOT, "FIXTURES.md"), encoding="utf-8") as fh:
        text = fh.read().split("## B.", 1)[1].split("\n## ", 1)[0]
    out, table = {}, None
    for line in text.splitlines():
        head = re.match(r"### (\w+) ", line)
        cell = re.match(r"\| (\w+) \| ([^ |]+)", line)
        if head:
            table = out.setdefault(head.group(1), {})
        elif cell and table is not None and cell.group(1) != "column":
            table[cell.group(1)] = cell.group(2)
    return out


def test_tables_have_the_fixture_column_types(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(str(tmp_path), 5, 0.001, 20, 2, 10)
    spelled = {"list<element: float>": "array<float>"}
    got = {
        t: {f.name: spelled.get(str(f.type), str(f.type)) for f in pq.read_schema(tmp_path / f"{t}.parquet")}
        for t in gen.TABLE_NAMES
    }
    assert got == _fixture_types()


def test_corpus_counts_equal_reference_tokenizer(tmp_path):
    """The generator's exact counts equal a pure-Python count under the
    reference semantics: lowercase, then ``\\b[a-z]+\\b``."""
    vocab, counts = gen.write_corpus(str(tmp_path), 11, 300_000, 3, vocab_size=20_000)
    ref = collections.Counter()
    for name in os.listdir(tmp_path):
        with open(tmp_path / name, encoding="utf-8") as fh:
            for line in fh:
                ref.update(re.findall(r"\b[a-z]+\b", line.lower()))
    want = {w.decode(): int(c) for w, c in zip(vocab.tolist(), counts.tolist()) if c}
    assert ref == want
    tsv = gen.expected_tsv(vocab, counts).decode().splitlines()
    assert len(tsv) == len(want)
    ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert tsv[:50] == [f"{w}\t{c}" for w, c in ranked[:50]]


# --------------------------------------------------------------------------
# row compare


def test_same_rows_tolerates_one_rounding_unit_only():
    cols = ["k", "v"]
    assert check.same_rows(cols, [(1, 0.15), (2, 3.0)], ["v", "k"], [(3.0, 2), (0.14, 1)]) is None
    assert check.same_rows(cols, [(1, 0.15)], cols, [(1, 0.13)]) is not None
    assert check.same_rows(cols, [(1, 0.15)], cols, [(2, 0.15)]) is not None
    assert check.same_rows(cols, [(1, 0.15)], cols, []) is not None
    # scientific notation: the unit is that of the last printed digit
    assert check.same_rows(cols, [(1, 2.5e-05)], cols, [(1, 2.4e-05)]) is None
    assert check.same_rows(cols, [(1, 2e-05)], cols, [(1, 9e-05)]) is not None
    assert check.same_rows(cols, [(1, 1.25e16)], cols, [(1, 1.26e16)]) is None
    assert check.same_rows(cols, [(1, 1.25e16)], cols, [(1, 1.28e16)]) is not None
    assert check.same_rows(cols, [(1, float("inf"))], cols, [(1, 1e308)]) is not None


def test_records_with_different_stamps_are_refused():
    def record(seed, **over):
        stamp = {
            "workload": "queries", "seed": seed, "cores": 2, "shuffle_partitions": 2,
            "spark_version": "4.1.2", "java_version": "17", "input_bytes": 10, "input_rows": 5,
            "git_rev": f"rev{seed}", "source_digest": f"src{seed}",
        }
        return {"stamp": {**stamp, **over}}

    assert compare.stamp_conflicts([record(1), record(2, input_bytes=11), record(3)]) == []
    assert compare.stamp_conflicts([record(1), record(2, cores=8)])
    assert compare.stamp_conflicts([record(1), record(1, input_rows=6)])
    assert compare.stamp_conflicts([record(1), record(2, workload="wordcount", cores=8)]) == []
    # a traced run (event log on, one set-up) is not comparable with untraced ones
    assert compare.stamp_conflicts([record(1, trace=0), record(2, trace=1)])


# --------------------------------------------------------------------------
# Spark-backed: event-log reader and failure accounting


@pytest.fixture
def in_root(monkeypatch, tmp_path):
    monkeypatch.chdir(ROOT)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    return tmp_path


def test_eventlog_one_group_per_operation_and_output_rows(in_root):
    log_dir = in_root / "eventlog"
    log_dir.mkdir()
    spark, _, _, _ = run._start_session(
        {
            "spark.driver.memory": "1g",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        }
    )
    try:
        df = spark.range(0, 5000, numPartitions=3).filter("id % 7 = 0")
        expected = df.count()
        ops = {"op_filter": df, "op_group": df.groupBy((df.id % 5).alias("k")).count()}
        for name, frame in ops.items():
            spark.sparkContext.setJobGroup(name, name)
            frame.write.format("noop").mode("overwrite").save()
    finally:
        run._stop_session(spark)
    groups = eventlog.summarize(eventlog.read_events(str(log_dir)))
    assert set(groups) == set(ops)
    assert groups["op_filter"].output_rows == expected
    assert groups["op_group"].output_rows == 5
    assert all(g.jobs >= 1 and g.tasks >= 3 for g in groups.values())


def test_wrong_answer_and_exception_are_counted_not_fatal(in_root, monkeypatch):
    monkeypatch.setattr(run, "SETUP_PROBES", 0)
    monkeypatch.setattr(run, "MIN_STEADY_PASSES", 2)

    class Injected(run.Queries):
        warmup_passes = 0

        def expect(self, specs):
            super().expect(specs)
            cols, rows = self.expected["q1_pricing_summary"]
            self.expected["q1_pricing_summary"] = (cols, rows[1:])  # a wrong expected value

        def build(self, spark, specs, op):
            if op == "json_event_props":
                raise RuntimeError("injected")
            return super().build(spark, specs, op)

    monkeypatch.setattr(run, "TABLES_SF", 0.001)
    monkeypatch.setattr(run, "QUERIES", ("q1_pricing_summary", "json_event_props", "window_running_spend"))
    monkeypatch.setattr(Injected, "ops", run.QUERIES)
    work = in_root / "work"
    work.mkdir()
    record = run.Run(Injected(), seed=1, seconds=0, trace=False, work=str(work)).execute()
    passes = len(record["passes_s"])
    assert passes == 3  # cold + two steady: the run went on
    assert record["attempted"] == 3 * passes
    assert record["failed"] == 2 * passes
    assert record["error_rate"] == pytest.approx(2 / 3)
