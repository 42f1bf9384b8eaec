"""Flagship pipeline: distributed word count (full reference parity).

This single declarative plan reproduces 100% of the reference's production
behavior (SURVEY.md §7 Phase 0). Reference trace -> Spark plan:

========================================  =====================================
reference (file:line)                     here
========================================  =====================================
chunked text scan coordinator.py:47-60    FileSourceScan input splits
lowercase          worker.py:13           fold() (guarded lower) in tokens()
regex tokenize     worker.py:6,13         regexp_extract_all + explode
per-chunk combiner worker.py:15           HashAggregate(partial) — automatic
global merge       coordinator.py:71-83   Exchange(word) + HashAggregate(final)
full desc sort     coordinator.py:133     orderBy(desc(count), word): range
                                          Exchange + Sort on every partition
TSV file           coordinator.py:131-134 write_tsv: parallel part files,
                                          concatenated in partition order
top-20             coordinator.py:126     limit(k) -> TakeOrderedAndProject
unique words       coordinator.py:106     count_distinct(word)
========================================  =====================================

Scale notes (100 TB design point): the whole pipeline is two whole-stage
codegen spans separated by one hash exchange on ``word``; the partial
aggregate collapses each input split to its distinct-word footprint before
the shuffle (exactly the reference's combiner insight, README.md:131-141,
but executed per-split and spilled by Tungsten when needed instead of merged
in one driver-side Counter — the reference's scalability ceiling). Word keys
are near-uniform after partial agg; AQE coalesces the reduce side. Ties in
the ranking are broken by ``word`` ascending to make top-k deterministic
(the reference's Counter tie order is arrival-dependent, SURVEY §2 T4).
The full sort is a range exchange followed by a per-partition sort, and the
TSV sink keeps it that way: each partition sorts and encodes its own range
on its own core, and only the finished bytes are joined into one file
(sources/text.py). The case fold runs ``translate`` only on rows that are
invalid UTF-8 or hold İ/Σ; every other row is just lowered
(functions/tokenize.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_docker_spark.functions.tokenize import tokens, tokens_strict


def word_counts(df: DataFrame, text_col: str = "text", strict: bool = False) -> DataFrame:
    """(word, cnt) per token; ``strict`` switches to bit-exact Python-re parity."""
    tok = tokens_strict(text_col) if strict else tokens(text_col)
    return (
        df.select(F.explode(tok).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ranked(counts: DataFrame) -> DataFrame:
    """Full frequency-descending ordering (reference TSV sink order)."""
    return counts.orderBy(F.desc("cnt"), F.asc("word"))


def top_k(counts: DataFrame, k: int = 20) -> DataFrame:
    """Top-k by count (desc), word asc tiebreak -> TakeOrderedAndProject."""
    return ranked(counts).limit(k)


def unique_words(counts: DataFrame) -> DataFrame:
    """Count of distinct words (reference coordinator.py:106,136)."""
    return counts.agg(F.count(F.lit(1)).alias("unique_words"))


def total_tokens(counts: DataFrame) -> DataFrame:
    """Total token count (reference worker.py:16 per-chunk log, summed)."""
    return counts.agg(F.sum("cnt").alias("total_tokens"))


def wordcount_pipeline(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """End-to-end flagship: counts -> ranked top-k."""
    return top_k(word_counts(df, text_col), k)


def word_counts_observed(df: DataFrame, text_col: str = "text"):
    """(counts_df, observation): flagship plan instrumented with metrics.

    The reference tracks dispatched-chunk and per-chunk token counts as
    driver-side counters (SURVEY §2 A6; coordinator.py:86,99,106,
    worker.py:16). Spark's ``observe`` attaches named aggregates to a plan
    edge and reports them with task completion — no extra job, no driver
    funnel. Read ``observation.get`` AFTER an action has run the plan.
    """
    from pyspark.sql import Observation

    obs = Observation("wordcount_ingest")
    tokens_per_row = F.size(tokens(text_col))
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(tokens_per_row).alias("tokens_mapped"),
    )
    return word_counts(observed, text_col), obs
