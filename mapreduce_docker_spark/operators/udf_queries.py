"""Python UDF surface parity (SURVEY §2.10 U6 [EXT]).

The reference's ``exposed_map`` (worker.py:9-17) is its whole UDF mechanism:
an arbitrary Python callable applied per input slice. Spark's modern
equivalents, one query each, all Arrow-batched (never row-at-a-time Python
UDFs — SURVEY §4 perf mandate):

* scalar ``@pandas_udf`` — vectorized per-batch numpy arithmetic;
* grouped-map ``applyInPandas`` — the UDAF/combiner shape, a whole group in
  one pandas frame (the closest analog of ``exposed_map``'s
  slice-in/aggregate-out contract);
* ``@udtf`` (Python UDTF, Spark >= 3.5) — one row in, many rows out, the
  generalized flatMap the reference implements with ``re.findall``.

Every function here is deterministic float64/int arithmetic, so each query
still carries a full DuckDB value-hash oracle — UDFs don't get a weaker
check just for being Python.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from mapreduce_docker_spark.functions.rounding import dround
from mapreduce_docker_spark.functions.rounding import sql as rsql
from mapreduce_docker_spark.functions.tokenize import SQL_TOKENS
from mapreduce_docker_spark.registry import register
from mapreduce_docker_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# scalar pandas UDF
# ---------------------------------------------------------------------------


def _saturation_score():
    # created lazily: decorating with a DDL-string return type at module
    # import would require an active SparkSession
    @pandas_udf("double")
    def score(text: pd.Series) -> pd.Series:
        """tanh(len/500): smooth 0..1 'document length saturation'."""
        import numpy as np

        return np.tanh(text.str.len().astype("float64") / 500.0)

    return score


@register(
    "udf_pandas_saturation",
    """
    SELECT doc_id,
           round((exp(2 * (length(text) / 500.0)) - 1)
                 / (exp(2 * (length(text) / 500.0)) + 1), 6) AS saturation
    FROM documents
    """,
    section="U6",
    note="scalar @pandas_udf (Arrow-vectorized numpy tanh); value-hash-matched against DuckDB's tanh at 6dp",
)
def udf_pandas_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(_saturation_score()(F.col("text")), 6).alias("saturation")
    )


# ---------------------------------------------------------------------------
# grouped-agg pandas UDAF (whole group in as one Series, one scalar out)
# ---------------------------------------------------------------------------


def _geomean_udaf():
    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        """Geometric mean: exp(mean(ln v)) over the whole group's Series."""
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    return geomean


@register(
    "udf_pandas_udaf_geomean",
    f"""
    SELECT o_orderpriority,
           {rsql('exp(avg(ln(o_totalprice)))', 4)} AS geo_price
    FROM orders
    WHERE o_totalprice > 0 AND isfinite(o_totalprice)
      -- geomean domain: DuckDB ln(0) THROWS, numpy log(0)/log(NULL)/log(NaN)
      -- poison the whole group's mean with -inf/NaN; NaN also PASSES > 0 on
      -- both engines (NaN-is-greatest), hence the explicit finite guard
    GROUP BY o_orderpriority
    """,
    section="U6,A7",
    note="grouped-agg @pandas_udf (true UDAF: Series in, scalar out, usable "
    "inside groupBy().agg()) — completes the pandas UDF API matrix next to "
    "the scalar, grouped-map, cogrouped and UDTF entries",
)
def udf_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of order value per priority class.

    The reference's combiner contract (worker.py:15) only ever reduces with
    ``+``; a grouped-agg pandas UDF is the general Spark form: Arrow ships
    the whole group as one Series, the aggregate itself is arbitrary numpy.
    The scale caveat is inherent to the API (no partial aggregation — every
    group's values move through the shuffle), so it belongs to groups whose
    per-key cardinality is bounded; unbounded keys should restructure as
    expression-level aggs like exp(avg(ln x)) (the oracle's own spelling).
    """
    orders = load_table(spark, sf_dir, "orders")
    # positive-domain contract (r10 degenerate sweep): a zero or NULL order
    # value has no geometric-mean contribution — numpy's log would poison
    # the whole group with -inf/NaN and DuckDB's ln(0) throws; the filter
    # drops NULLs too (NULL > 0 is not true), identically on both engines
    return (
        orders.filter(
            (F.col("o_totalprice") > 0)
            & (F.col("o_totalprice") < F.lit(float("inf")))  # rejects NaN too
        )
        .groupBy("o_orderpriority")
        .agg(dround(_geomean_udaf()(F.col("o_totalprice")), 4).alias("geo_price"))
    )


# ---------------------------------------------------------------------------
# grouped-map applyInPandas (UDAF / combiner shape)
# ---------------------------------------------------------------------------


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-language length z-score, population stddev (ddof=0).

    Degenerate contract (r8 probe class): a zero-variance group and a NULL
    text both yield SQL NULL — emitted as object-dtype None so Arrow
    converts to null, matching the oracle's CASE/NULL-propagation (a NaN
    here would value-hash-mismatch the oracle's NULL)."""
    n = pdf["text"].str.len().astype("float64")
    std = n.std(ddof=0)
    if std > 0:
        z = ((n - n.mean()) / std).round(4)
    else:
        z = pd.Series(float("nan"), index=n.index)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "lang": pdf["lang"],
            "len_z": z.astype(object).where(z.notna(), None),
        }
    )


@register(
    "udf_applyinpandas_zscore",
    """
    SELECT doc_id, lang,
           CASE WHEN stddev_pop(length(text)) OVER (PARTITION BY lang) > 0
                THEN round((length(text) - avg(length(text)) OVER (PARTITION BY lang))
                           / stddev_pop(length(text)) OVER (PARTITION BY lang), 4)
           END AS len_z
    FROM documents
    """,
    section="U6",
    note="grouped-map applyInPandas (whole group per pandas frame — the reference exposed_map contract, worker.py:9-17); oracle is the equivalent window SQL",
)
def udf_applyinpandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return d.groupBy("lang").applyInPandas(
        _zscore_group, schema="doc_id bigint, lang string, len_z double"
    )


# ---------------------------------------------------------------------------
# Python UDTF: one row -> many rows (generalized reference flatMap)
# ---------------------------------------------------------------------------


def _bigram_udtf():
    @udtf(returnType="pos int, bigram string")
    class BigramUDTF:
        """Yields (position, bigram) per adjacent token pair of one document."""

        def eval(self, text: str):  # noqa: D102 - UDTF contract
            import re

            from mapreduce_docker_spark.functions.tokenize import py_fold

            # simple-casing fold law (r14): match tokenize.fold / the oracle
            toks = re.findall(r"[a-z]+", py_fold(text or ""))
            for i in range(len(toks) - 1):
                yield i, f"{toks[i]} {toks[i + 1]}"

    return BigramUDTF


@register(
    "udf_udtf_bigrams",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_TOKENS} AS toks FROM documents WHERE doc_id < 100
    ),
    g AS (
      SELECT doc_id,
             unnest(generate_series(1, len(toks) - 1)) AS i,
             toks
      FROM d WHERE len(toks) >= 2
    )
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] || ' ' || toks[i + 1] AS bigram
    FROM g
    """,
    section="U6",
    note="Python UDTF (@udtf, lateral join): row -> bigram rows with position; bounded to doc_id<100 because per-row Python fan-out is the demo, not the scale path (text_bigrams_top30 is)",
)
def udf_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.lateralJoin(
        _bigram_udtf()(F.col("text").outer()).alias("b")
    ).select("doc_id", "pos", "bigram")


# ---------------------------------------------------------------------------
# cogrouped applyInPandas: two grouped relations, one pandas callable
# ---------------------------------------------------------------------------


def _user_conversion(key, events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user purchase-event count vs order count, joined in pandas."""
    (user_id,) = key
    n_purchases = int((events_pdf["event_type"] == "purchase").sum())
    n_orders = int(len(orders_pdf))
    return pd.DataFrame(
        {"user_id": [user_id], "n_purchase_events": [n_purchases], "n_orders": [n_orders]}
    )


@register(
    "udf_cogroup_user_conversion",
    """
    SELECT coalesce(e.user_id, o.o_custkey) AS user_id,
           CAST(coalesce(e.np, 0) AS BIGINT) AS n_purchase_events,
           CAST(coalesce(o.n, 0) AS BIGINT)  AS n_orders
    FROM (SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id) e
    FULL OUTER JOIN
         (SELECT o_custkey, count(*) AS n FROM orders
          WHERE o_custkey IS NOT NULL GROUP BY o_custkey) o
      ON o.o_custkey = e.user_id
    -- IS NOT NULL on both rollups (r10 degenerate sweep): a NULL identity
    -- has no per-user state, and the NULL-keyed groups can never join so
    -- the two engines disagreed on how many orphan NULL rows to emit
    """,
    section="U6",
    note="cogrouped applyInPandas (events x orders per user in one pandas call) — the two-sided exposed_map generalization; cogroup iterates the UNION of both key sets, so the oracle is a full-outer join of the two rollups",
)
def udf_cogroup_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL identities carry no per-user state (r10 degenerate sweep; the
    # oracle rollups carry the matching IS NOT NULL)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .filter(F.col("user_id").isNotNull())
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("user_id"))
        .filter(F.col("user_id").isNotNull())
    )
    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            _user_conversion,
            schema="user_id bigint, n_purchase_events bigint, n_orders bigint",
        )
    )


# ---------------------------------------------------------------------------
# polymorphic UDTF: analyze() computes the OUTPUT SCHEMA from the call's
# arguments — Spark 3.5+'s dynamic-schema table function API
# ---------------------------------------------------------------------------


def _ngram_udtf():
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import IntegerType, StringType, StructType

    @udtf
    class NgramUDTF:
        """Emit n-grams with one POSITION COLUMN PER GRAM SLOT: the column
        set (pos, w0..w{n-1}) depends on the literal ``n`` argument, so the
        schema cannot be declared statically — ``analyze`` computes it at
        plan time from the call site (the polymorphic-UDTF contract)."""

        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not isinstance(n.value, int) or n.value < 1:
                raise ValueError("n must be a positive int literal")
            schema = StructType().add("pos", IntegerType())
            for i in range(n.value):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):  # noqa: D102 - UDTF contract
            import re

            from mapreduce_docker_spark.functions.tokenize import py_fold

            # simple-casing fold law (r14): match tokenize.fold / the oracle
            toks = re.findall(r"[a-z]+", py_fold(text or ""))
            for i in range(len(toks) - n + 1):
                yield (i, *toks[i : i + n])

    return NgramUDTF


@register(
    "udf_udtf_analyze_trigrams",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_TOKENS} AS toks FROM documents WHERE doc_id < 50
    ),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(toks) - 2)) AS i, toks
      FROM d WHERE len(toks) >= 3
    )
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
           toks[i] AS w0, toks[i + 1] AS w1, toks[i + 2] AS w2
    FROM g
    """,
    section="U6",
    note=(
        "POLYMORPHIC Python UDTF: analyze() derives the output schema "
        "(pos, w0..w{n-1}) from the literal n at plan time — the "
        "dynamic-schema table-function API on top of the static @udtf "
        "demo; called with n=3, lateral-joined, and hash-matched against "
        "the SQL trigram expansion. Bounded to doc_id<50: per-row Python "
        "fan-out is the API demo, not the scale path"
    ),
)
def udf_udtf_analyze_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.lateralJoin(
        _ngram_udtf()(F.col("text").outer(), F.lit(3)).alias("g")
    ).select("doc_id", "pos", "w0", "w1", "w2")
