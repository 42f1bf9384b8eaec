"""Degenerate-input robustness: queries must execute (returning zero
rows), not crash, when every fixture table is empty — the
filtered-to-empty case any 100 TB pipeline hits (a partition filter
matching nothing, a day with no events, a corpus slice with no docs).

r5 found and fixed three crash classes on empty input: parquet schema
inference with zero data files (stored-IVF read-back, hive-partitioned
read-back — both now pass explicit schemas, which a 100 TB table wants
anyway), and PageRank's 1/n seed on an empty node set.

r6 fixed the three crashers the r5 sweep deferred (frozen-window
discipline): agg_approx_distinct_tolerance filters exact_nd = 0 rows
before the relative-error divide (ANSI DIVIDE_BY_ZERO), and
text_ml_pipeline_tfidf / sim_brp_lsh_ml gate pyspark.ml .fit() — which
throws on empty datasets by library design — behind an isEmpty() check
returning the typed empty relation.
"""

from __future__ import annotations

import os

import pytest

from mapreduce_docker_spark.registry import all_specs
from mapreduce_docker_spark.sources.catalog import TABLES

# representative spread: the three fixed crashers + one query per major
# engine family (aggregate, window, LSH, text, event, layout, graph)
PROBE = [
    "agg_approx_distinct_tolerance",
    "text_ml_pipeline_tfidf",
    "sim_brp_lsh_ml",
    "dedup_chain_within_delay",
    "join_aqe_skew_enriched_events",
    "sim_ann_ivf_stored",
    "layout_partition_pruned_events",
    "graph_pagerank_purchases",
    "wordcount",
    "q1_pricing_summary",
    "dedup_minhash_pairs",
    "events_sessionize",
    "events_rolling_7d_active_users",
    "text_tfidf_pair_cosine",
    "merge_upsert_orders",
    "graph_triangle_stats",
    # r9: empty events -> empty staged day files -> a zero-batch stream
    # must still create its (empty) memory sink, not crash on read-back
    "streaming_dedup_expiry_keys",
    # r10: empty documents -> zero staged BMPs -> binaryFile over a dir
    # holding only _SUCCESS must yield a typed empty relation, not throw
    "multimodal_bmp_decode_stats",
    # empty documents -> four empty staged chunks -> no flagged docs
    "streaming_incremental_minhash_dedup",
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("empty_fixtures"))
    for t in TABLES:
        src = f"/root/testdata/sf0.001/{t}.parquet"
        spark.read.parquet(src).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, f"{t}.parquet"))
    return base


# global aggregates legitimately produce one identity row on empty input
# (SQL COUNT semantics) — everything else must produce zero rows
_GLOBAL_AGG = {"graph_triangle_stats"}


@pytest.mark.parametrize("name", PROBE)
def test_runs_on_empty_tables(spark, empty_dir, name):
    specs = all_specs()
    rows = specs[name].fn(spark, empty_dir).collect()
    if name in _GLOBAL_AGG:
        assert len(rows) == 1
        r = rows[0]
        assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
            0, 0, 0, 0,
        )
    else:
        assert rows == []


def test_incremental_minhash_dedup_streams_negative_ids(spark, tmp_path):
    """Every document reaches the incremental dedup stream, negative ids
    included: a near-dup pair between two negative ids and one between a
    negative and a positive id are both flagged, as in the oracle."""
    import crafted
    from mapreduce_docker_spark import oracle

    fox = "the quick brown fox jumps over the lazy dog"
    docs = [
        (-7, fox, "en"),
        (-4, "completely different words are here now", "en"),
        (-2, fox, "en"),
        (3, "another unrelated sentence about sleepy cats", "en"),
        (5, fox, "en"),
    ]
    crafted.write(
        spark, tmp_path, "documents", docs, "doc_id long, text string, lang string"
    )
    spec = all_specs()["streaming_incremental_minhash_dedup"]
    sdf = spec.fn(spark, str(tmp_path))
    rows = sdf.collect()
    assert sorted(r["doc_id"] for r in rows) == [-7, -4, 3]
    con = oracle.connect(str(tmp_path), ["documents"])
    try:
        ores = con.execute(spec.sql)
        assert (
            oracle.diff(
                sdf.columns, rows, [d[0] for d in ores.description], ores.fetchall()
            )
            is None
        )
    finally:
        con.close()
