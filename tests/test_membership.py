"""Bloom-filter membership properties (value parity is in test_oracle_parity).

The load-bearing claims: NO false negatives (every exactly-contaminated doc
is Bloom-flagged, with at least as many hits), the filter is mergeable by
bit-set union, and the probe plan broadcasts the bit set instead of
shuffling the corpus against it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_docker_spark.operators.membership_queries import (
    BLOOM_K,
    BLOOM_M,
    _bench_bits,
    bloom_positions,
    q_bloom_benchmark_filter,
    q_text_decontaminate_bloom,
)
from mapreduce_docker_spark.operators.textanalysis_queries import (
    text_decontaminate_ngram,
)

SF = "/root/testdata/sf0.001"


def test_bloom_never_misses_exact_contamination(spark):
    """Bloom membership has no false negatives: every doc the exact shingle
    join flags must be flagged by the Bloom probe, with >= the exact count
    (false positives can only ADD hits, never remove them)."""
    exact = {
        r["doc_id"]: r["n_shared_shingles"]
        for r in text_decontaminate_ngram(spark, SF).collect()
    }
    bloom = {
        r["doc_id"]: r["n_bloom_hits"]
        for r in q_text_decontaminate_bloom(spark, SF).collect()
    }
    assert exact, "fixture produced no contaminated docs — test is vacuous"
    for doc_id, n_exact in exact.items():
        assert doc_id in bloom, f"doc {doc_id} exactly contaminated but not Bloom-flagged"
        # exact counts distinct shingle STRINGS; bloom counts distinct
        # 31-bit HASHES, so hash collisions can only shrink, and false
        # positives only grow — both directions still imply >= 1
        assert bloom[doc_id] >= 1


def test_bloom_filter_is_mergeable_by_bit_union(spark):
    """Per-shard builds union to the global filter: bits(bench) ==
    bits(shard1) ∪ bits(shard2) for any split of the benchmark docs."""
    from mapreduce_docker_spark.functions import texthash as th
    from mapreduce_docker_spark.operators.membership_queries import BENCH_MAX_DOC
    from mapreduce_docker_spark.sources.catalog import load_table

    d = th.shingle_rows(
        load_table(spark, SF, "documents").filter(F.col("doc_id") < BENCH_MAX_DOC),
        ["doc_id"],
    )

    def bits_of(df):
        return {
            r["bit"]
            for r in df.select(th.shingle_hash(F.col("s")).alias("h"))
            .select(F.explode(bloom_positions(F.col("h"))).alias("bit"))
            .distinct()
            .collect()
        }

    whole = {r["bit"] for r in _bench_bits(spark, SF).collect()}
    half_a = bits_of(d.filter(F.col("doc_id") % 2 == 0))
    half_b = bits_of(d.filter(F.col("doc_id") % 2 == 1))
    assert whole == half_a | half_b
    assert len(whole) <= BLOOM_M


def test_bloom_probe_is_joinless_mapside(spark):
    """The filter ships as a bitmap literal; membership must be a map-side
    expression — NO join anywhere in the probe plan, and the pipeline pays
    exactly ONE exchange: the doc_id-keyed scatter, which the per-doc
    distinct and count both reuse (r14 opt — before, the member subset
    re-shuffled after the round-robin scatter). The bitmap is an
    array<long> probed with getbit (O(1)); the old M-char string's
    substring probe re-counted 16 KB per probe."""
    plan = (
        q_text_decontaminate_bloom(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "NestedLoop"):
        assert j not in plan, plan
    assert "getbit" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_filter_stats_internally_consistent(spark):
    row = q_bloom_benchmark_filter(spark, SF).first()
    assert 0 < row["n_bits_set"] <= min(BLOOM_M, row["n_keys"] * BLOOM_K)
    assert abs(row["fill_ratio"] - row["n_bits_set"] / BLOOM_M) < 1e-6
    assert 0.0 <= row["approx_fp_rate"] <= 1.0
