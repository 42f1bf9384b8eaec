"""The catalog's schema law: a fixture's parquet schema is inferred once per
content and inference conf, and a load with the memoized schema reads what
an inferring load reads, without running a Spark job."""

from __future__ import annotations

import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from mapreduce_docker_spark import oracle
from mapreduce_docker_spark.registry import all_specs
from mapreduce_docker_spark.sources.catalog import TABLES, load_table

from tests.conftest import SF_SMOKE


def _jobs(spark, build) -> int:
    """Number of Spark jobs ``build()`` runs, counted by its job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _inferring_load(spark, sf_dir, name):
    """load_table as it reads without a schema memo: infer on every read."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    for fname, ftype in df.dtypes:
        if ftype == "timestamp_ntz":
            df = df.withColumn(fname, F.col(fname).cast("timestamp"))
    return df


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


def _write_region(path, table) -> None:
    pq.write_table(table, os.path.join(path, "region.parquet"))


def test_second_load_runs_no_job(spark, tmp_path):
    # a table this process has never read: the first load infers (the
    # positive control for the counter), the second reuses the schema
    _write_region(tmp_path, pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}))
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "region")) >= 1
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "region")) == 0
    for name in TABLES:
        load_table(spark, SF_SMOKE, name)
        assert _jobs(spark, lambda n=name: load_table(spark, SF_SMOKE, n)) == 0, name


@pytest.mark.parametrize("name", TABLES)
def test_memoized_load_reads_what_inference_reads(spark, name):
    load_table(spark, SF_SMOKE, name)
    memo = load_table(spark, SF_SMOKE, name)
    inferred = _inferring_load(spark, SF_SMOKE, name)
    assert memo.schema == inferred.schema
    assert _optimized(memo) == _optimized(inferred)


def test_in_place_rewrite_is_inferred_again(spark, tmp_path):
    _write_region(tmp_path, pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}))
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    _write_region(tmp_path, pa.table({"r_regionkey": [7], "r_comment": ["c"], "x": [1.5]}))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment", "x"]
    assert [tuple(r) for r in df.collect()] == [(7, "c", 1.5)]


def test_binary_as_string_toggle_is_inferred_again(spark, tmp_path):
    _write_region(tmp_path, pa.table({"r_name": pa.array([b"ab"], pa.binary())}))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "region").schema["r_name"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "region")
        assert df.schema["r_name"].dataType == StringType()
        assert df.collect()[0][0] == "ab"
    finally:
        spark.conf.set(key, before)


def test_missing_path_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "orders")


def test_self_join_of_two_loads(spark):
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")
    got = (
        a.join(b, (a["o_custkey"] == b["o_custkey"]) & (a["o_orderkey"] < b["o_orderkey"]))
        .select(a["o_orderkey"].alias("lo"), b["o_orderkey"].alias("hi"))
        .collect()
    )
    sql = (
        "SELECT a.o_orderkey AS lo, b.o_orderkey AS hi FROM orders a JOIN orders b "
        "ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey"
    )
    want = oracle.connect(SF_SMOKE, ("orders",)).execute(sql)
    assert got, "fixture has no repeat customers: the join checks nothing"
    assert oracle.diff(["lo", "hi"], got, [d[0] for d in want.description], want.fetchall()) is None


def test_spark_written_directory_fixture(spark, tmp_path):
    src = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "o_orderkey bigint, o_comment string")
    src.repartition(3).write.parquet(str(tmp_path / "orders.parquet"))
    load_table(spark, str(tmp_path), "orders")
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders")) == 0
    df = load_table(spark, str(tmp_path), "orders")
    assert df.schema == _inferring_load(spark, str(tmp_path), "orders").schema
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


# the `queries` workload of perfbench/run.py, plus a star-schema join
_BUILD_QUERIES = (
    "q1_pricing_summary",
    "window_running_spend",
    "events_session_5m",
    "text_tfidf_top_term",
    "dedup_minhash_signatures",
    "q3_shipping_priority",
)


@pytest.mark.parametrize("name", _BUILD_QUERIES)
def test_warm_query_build_runs_no_job(spark, name):
    spec = all_specs()[name]
    spec.fn(spark, SF_SMOKE)
    assert _jobs(spark, lambda: spec.fn(spark, SF_SMOKE)) == 0
