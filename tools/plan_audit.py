"""Anti-pattern allowlist for registered query plans.

``plan_flags`` names the operators in an executed plan that are usually
scale bugs: ``BatchEvalPython`` (row-at-a-time Python),
``CartesianProduct``, ``BroadcastNestedLoopJoin``, ``ArrowEvalPython``,
``MapInArrow`` (a Python kernel over Arrow batches) and the
grouped-pandas exec nodes. Every legitimate occurrence in this engine is
a *documented bounded pattern* (1-row broadcast scalar injection, the
rolling band join against a broadcast day list, the bounded dense-grid
build, the UDTF / pandas-twin representatives, the SRP band kernel) and
is listed in ``KNOWN`` below with its reason. The pass condition is
``plan_flags(plan) == KNOWN[name]`` (no flags for an unlisted name), so a
NEW flag is a regression to explain or fix, and a flag that disappears
means KNOWN must be updated to stay exact.

tests/test_oracle_parity.py asserts it for every registered query, on
the executed plan of the DataFrame it is about to collect or count.
"""

from __future__ import annotations

# name -> (flags, why it is bounded / intentional)
KNOWN: dict[str, tuple[frozenset[str], str]] = {
    "join_cross_region_priority_grid": (
        frozenset({"bnlj"}),
        "documented dense-grid fill: |regions| x |priorities| crossJoin",
    ),
    "agg_histogram_totalprice": (
        frozenset({"bnlj"}),
        "1-row min/max stats relation broadcast into the bucket expression",
    ),
    "q22_global_sales_opportunity": (
        frozenset({"bnlj"}),
        "scalar subquery (global avg balance) broadcast as a 1-row relation",
    ),
    "basket_part_pairs_lift": (
        frozenset({"bnlj"}),
        "1-row total-order-count scalar broadcast into the lift expression",
    ),
    "text_bigram_surprisal": (
        frozenset({"bnlj"}),
        "1-row continuation-vocabulary scalar broadcast into smoothing",
    ),
    "bloom_benchmark_filter": (
        frozenset({"bnlj"}),
        "1-row filter-stats relation (bits set / fill ratio) broadcast",
    ),
    "graph_triangle_stats": (
        frozenset({"bnlj"}),
        "1-row census aggregates crossJoined (stats x triangles); the r13 "
        "eager output checkpoint hid the same crossJoins behind an "
        "ExistingRDD scan — r14 returns the census lazily over the "
        "checkpointed edge relation instead (see triangle_census)",
    ),
    "sim_ann_ivf_stored": (
        frozenset({"bnlj"}),
        "10-row query matrix broadcast against candidate buckets (bounded)",
    ),
    "udf_udtf_analyze_trigrams": (
        frozenset({"row-python"}),
        "Python UDTF representative: BatchEvalPython is the UDTF exec node "
        "itself — the query exists to cover the UDTF surface",
    ),
    "events_rolling_7d_active_users": (
        frozenset({"bnlj"}),
        "the designed 6-day band join: pre-collapsed (user, day) against "
        "the BROADCAST day list (plan-pinned in tests/test_plans.py)",
    ),
    "events_daily_gapfill_locf": (
        frozenset({"bnlj"}),
        "bounded dense (user x day) grid build for the gap fill",
    ),
    "sketch_theta_type_overlap": (
        frozenset({"bnlj"}),
        "|types|^2 pairwise sketch algebra over a handful of rows",
    ),
    "sim_cosine_topk_pandas": (
        frozenset({"pandas-grouped"}),
        "the Arrow grouped-pandas TWIN of the JVM-side top-k (exists to "
        "cover the pandas surface; asserted equal to the codegen path)",
    ),
    "events_rolling_7d_hll": (
        frozenset({"bnlj"}),
        "band join unions |days| daily sketches — KB-scale broadcast",
    ),
    # pandas-surface representatives (grouped/cogrouped/mapInPandas)
    "dedup_chain_within_delay": (
        frozenset({"pandas-grouped"}),
        "chain-keep decision depends on the previous KEPT row — inherently "
        "sequential per key, so mapInPandas with O(1) state is the design, "
        "not a fallback (full recursive-CTE oracle)",
    ),
    "udf_applyinpandas_zscore": (frozenset({"pandas-grouped"}), "U6 surface"),
    "udf_cogroup_user_conversion": (frozenset({"pandas-grouped"}), "U6 surface"),
    "udf_pandas_udaf_geomean": (
        frozenset({"pandas-grouped"}),
        "U6 grouped-agg pandas_udf (ArrowAggregatePython)",
    ),
    "udf_udtf_bigrams": (frozenset({"row-python"}), "Python UDTF surface"),
    "dedup_jaccard_sample": (
        frozenset({"bnlj"}),
        "bounded doc-sample side (the query is the small rounded-Jaccard "
        "spot-check, not a corpus-scale pair scan)",
    ),
    "emb_vector_store_build": (
        frozenset({"bnlj"}),
        "k-row centroid matrix broadcast for IVF assignment",
    ),
    "sim_ann_ivf": (
        frozenset({"bnlj"}),
        "k-row centroid matrix broadcast for IVF assignment",
    ),
    "sim_cosine_topk": (
        frozenset({"bnlj"}),
        "10-row query matrix broadcast (the documented bounded collect)",
    ),
    "sample_temperature_mix": (
        frozenset({"bnlj"}),
        "1-row (sum sqrt(c), sum c) normalization scalars broadcast",
    ),
    "scalar_levenshtein_nations": (
        frozenset({"bnlj"}),
        "all-pairs over the 25-row nation dim (bounded by contract)",
    ),
    "text_langid_nb": (
        frozenset({"bnlj"}),
        "|langs|-row class-prior relation broadcast; the vocab-sized "
        "likelihood grid shuffle-joins on word (plan-pinned de-broadcast)",
    ),
    "text_tfidf_top_term": (
        frozenset({"bnlj"}),
        "1-row corpus-size scalar broadcast into idf",
    ),
    "text_unigram_surprisal": (
        frozenset({"bnlj"}),
        "1-row corpus-total scalar broadcast (plan-pinned: the LM itself "
        "shuffle-joins)",
    ),
    "multimodal_features": (frozenset({"pandas-grouped"}), "U5 mapInPandas"),
    "multimodal_resize": (frozenset({"pandas-grouped"}), "U5 mapInPandas"),
    "multimodal_frame_stats": (frozenset({"pandas-grouped"}), "U5 mapInPandas"),
    "multimodal_bmp_decode_stats": (
        frozenset({"pandas-grouped"}),
        "U5 mapInPandas: REAL BMP pixel decode is inherently Python "
        "(Arrow-batched, one decode call per payload)",
    ),
    "udf_pandas_saturation": (frozenset({"arrow-scalar-udf"}), "U6 scalar pandas_udf"),
    "sim_ann_srp_banded": (
        frozenset({"map-in-arrow"}),
        "the numpy SRP kernel: unit vector + 144-bit band string per row in "
        "one Arrow batch pass (dedup_embedding_pairs runs the same kernel "
        "behind a checkpoint, so its plan shows no Python node)",
    ),
}

FLAG_NODES = {
    "row-python": "BatchEvalPython",
    "cartesian": "CartesianProduct",
    "bnlj": "BroadcastNestedLoopJoin",
    "arrow-scalar-udf": "ArrowEvalPython",
    "map-in-arrow": "MapInArrow",
}
# ArrowAggregatePython is Spark 4's name for the grouped-agg pandas UDF
# exec (AggregateInPandas before it)
PANDAS_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "ArrowAggregatePython")


def plan_flags(plan: str) -> frozenset[str]:
    """The flags raised by an executed plan's ``toString()``."""
    flags = {f for f, node in FLAG_NODES.items() if node in plan}
    if any(n in plan for n in PANDAS_NODES):
        flags.add("pandas-grouped")
    return frozenset(flags)


