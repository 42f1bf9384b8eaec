"""Pins for the session defaults that cut a fresh session's first pass.

``spark.sql.icu.caseMappings.enabled=false`` (a runtime law in
``sources/catalog.py:_RUNTIME_CONFS``) routes ``lower()``/``upper()``
through the JDK's case mapping instead of ICU's, whose first use costs a
fresh JVM seconds. ``spark.python.sql.dataFrameDebugging.enabled=false``
(static, ``session._DEFAULTS``) stops PySpark capturing a Python call site
on every ``functions``/``Column`` call. These tests pin that both are set,
that a caller's session gets the runtime one, that the JDK mapper agrees
with the DuckDB oracle where the two mappers differ, and that the
tokenizer cannot tell the mappers apart.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from mapreduce_docker_spark.functions.tokenize import tokens
from mapreduce_docker_spark.sources.catalog import ensure_runtime_confs

ICU = "spark.sql.icu.caseMappings.enabled"
ORIGIN = "spark.python.sql.dataFrameDebugging.enabled"

# capital letters that ICU 77 (Unicode 16) lowercases and the JDK 17
# mapper (Unicode 13) and DuckDB 1.0.0's utf8proc leave as they are
NEWER_CAPITALS = ("\u2c2f", "\ua7c0", "\U00010570", "\ua7cb", "\u1c89", "\U00010d50")
KELVIN = "\u212a"


@pytest.fixture
def icu_conf(spark):
    """Yield a setter for the ICU conf; restore the session's value after."""
    before = spark.conf.get(ICU)
    yield lambda v: spark.conf.set(ICU, v)
    spark.conf.set(ICU, before)


def test_get_spark_sets_both_confs(spark):
    assert spark.conf.get(ICU) == "false"
    assert spark.conf.get(ORIGIN) == "false"
    # PySpark reads the origin conf once per process; the engine session
    # is the one it read
    assert is_debugging_enabled() is False


def test_ensure_runtime_confs_turns_icu_off(spark, icu_conf):
    icu_conf("true")
    assert spark.conf.get(ICU) == "true"
    ensure_runtime_confs(spark)
    assert spark.conf.get(ICU) == "false"


def test_case_mapping_matches_the_oracle(spark):
    texts = [*NEWER_CAPITALS, KELVIN, "Hello, World 42", "x" + "".join(NEWER_CAPITALS)]
    got = sorted(
        tuple(r)
        for r in spark.createDataFrame([(t,) for t in texts], "t string")
        .select("t", F.lower("t"), F.upper("t"))
        .collect()
    )
    con = duckdb.connect()
    try:
        want = sorted(
            con.execute("SELECT ?, lower(?), upper(?)", [t, t, t]).fetchone()
            for t in texts
        )
    finally:
        con.close()
    assert got == want


def test_tokens_do_not_depend_on_the_case_mapper(spark, icu_conf):
    rows = [
        ("Straße İstanbul ΣΟΦΟΣ Café NAÏVE",),
        ("\u212aelvin \u2c2fDATA\ua7c0End\U00010570x",),
        ("ǅungla ǄEMAL ﬁne ŉapa ΐota",),
        ("ᎠᎠabc ⓐⒶ Ωmega ẞIG",),
        ("\ua7cbz\u1c89Y\U00010d50w plain ascii WORDS",),
    ]
    df = spark.createDataFrame(rows, "text string")

    def run(flag):
        icu_conf(flag)
        return [tuple(r) for r in df.select(F.lower("text"), tokens("text")).collect()]

    jdk, icu = run("false"), run("true")
    # the rows do tell the mappers apart, yet yield the same tokens
    assert [r[0] for r in jdk] != [r[0] for r in icu]
    assert [r[1] for r in jdk] == [r[1] for r in icu]
