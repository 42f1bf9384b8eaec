"""Pins for the one result comparator, ``mapreduce_docker_spark.oracle``.

Every oracle gate goes through ``diff``/``normalize``, so these pin the
driver's exact value-hash semantics: no float tolerance, NaN equal to
NaN, booleans distinct from integers, column order irrelevant, nested
arrays compared cell by cell.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from mapreduce_docker_spark import oracle

NAN = float("nan")


def test_floats_differing_in_the_eighth_decimal_are_unequal():
    # round(v, 7) maps both to 0.1234568; the driver's hash does not
    assert oracle.normalize([(0.12345678,)], ["x"]) != oracle.normalize(
        [(0.12345679,)], ["x"]
    )
    assert oracle.diff(["x"], [(0.12345678,)], ["x"], [(0.12345679,)])


def test_nan_equals_nan():
    assert oracle.diff(["x"], [(NAN,), (1.0,)], ["x"], [(1.0,), (NAN,)]) is None


def test_nulls_sort_stably_among_values():
    a = [(1, None), (1, 2.0), (None, 0.5)]
    b = [(None, 0.5), (1, 2.0), (1, None)]
    assert oracle.normalize(a, ["k", "v"]) == oracle.normalize(b, ["k", "v"])
    null = oracle.normalize([(None,)], ["k"])[0][0]
    assert oracle.normalize(a, ["k", "v"])[0][0] == null  # NULL sorts first
    assert oracle.diff(["k", "v"], a, ["k", "v"], b) is None


def test_true_is_not_one():
    assert oracle.diff(["b"], [(True,)], ["b"], [(1,)])
    assert oracle.diff(["b"], [(1.0,)], ["b"], [(1,)])


def test_column_order_is_ignored():
    assert oracle.diff(["a", "b"], [(1, "x")], ["b", "a"], [("x", 1)]) is None
    assert oracle.diff(["a", "b"], [(1, "x")], ["a", "c"], [(1, "x")]).startswith(
        "columns"
    )


def test_nested_lists_compare_cell_by_cell():
    nested = [([1.0, NAN, None],)]
    assert oracle.diff(["v"], nested, ["v"], [((1.0, NAN, None),)]) is None
    assert oracle.diff(["v"], [([1.0, 2.0],)], ["v"], [([1.0, 2.00000001],)])
    assert oracle.diff(["v"], [([1, 2],)], ["v"], [([1, 2, 3],)])


def test_diff_names_the_first_differing_row():
    s = [(1, "a"), (2, "b"), (3, "c")]
    o = [(1, "a"), (2, "B"), (3, "c")]
    msg = oracle.diff(["k", "s"], s, ["k", "s"], o)
    assert msg.startswith("first differing sorted rows at [1]")
    assert "'b'" in msg and "'B'" in msg
    assert oracle.diff(["k"], [(1,)], ["k"], [(1,), (1,)]) == "rows 1 vs 2"


def test_connect_reads_a_file_and_a_spark_directory(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2]}), str(tmp_path / "one.parquet"))
    spark.createDataFrame([(3,), (4,), (5,)], "k long").repartition(2).write.parquet(
        str(tmp_path / "many.parquet")
    )
    con = oracle.connect(tmp_path, ["one", "many"])
    try:
        assert con.execute("SELECT sum(k) FROM one").fetchone() == (3,)
        assert con.execute("SELECT sum(k) FROM many").fetchone() == (12,)
    finally:
        con.close()
