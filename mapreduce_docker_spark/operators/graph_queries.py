"""Graph analytics over relations the engine already derives.

Two graphs, both born from existing oracle-checked stages (no synthetic
side inputs — the driver fixtures are the only source of truth):

* the NEAR-DUP GRAPH: vertices are documents, edges the verified MinHash
  pairs (dedup_queries.dedup_minhash_pairs). Triangle census over it
  answers a real curation question — how clique-like is the duplicate
  structure (boilerplate families form near-cliques; chains of borderline
  pairs do not) — and is fully SQL-expressible, so unlike most graph
  engines this one gets a bit-exact DuckDB oracle.
* the PURCHASE GRAPH: a bipartite customer↔supplier graph with one edge
  per distinct (o_custkey, l_suppkey) trading relationship. Degree
  distribution is oracle-checked; PageRank (power iteration) is the
  iterative-algorithm representative — per-iteration float sums are
  partition-order dependent, so it registers rows-only and is pinned
  against a numpy reference within 1e-9 in tests/test_graph.py.

Scale notes:
* triangle counting uses the standard ORIENTED enumeration (every edge
  stored once as lo<hi, wedges closed from each node's ordered neighbor
  list): each triangle is found exactly once, and the join fans out on
  ordered degree — the skew cap is the max ORIENTED degree, which the
  lo<hi orientation keeps near-minimal. Cost: one self-join of the edge
  list on the wedge apex + one hash probe back into edges. At web scale
  this is the plan GraphX/Pregel lower to anyway, minus their vertex-cut
  bookkeeping.
* wedges come from degrees (sum deg*(deg-1)/2) — a groupBy, no join.
* PageRank is O(iterations) shuffle rounds of (edge join ranks) +
  groupBy-sum — the textbook distributed formulation; lineage is
  truncated with localCheckpoint every few rounds exactly like the
  connected-components loop (dedup_queries), or checkpointed to parquet
  on a real cluster. Dangling mass (suppliers with no outgoing side here:
  none — the graph is symmetrized) is redistributed uniformly.

Reference lineage: the reference has no graph surface; [EXT] breadth item
(SURVEY.md §2.10 family), same mandate class as dedup's connected
components — which this module complements with counting/centrality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_docker_spark.functions.rounding import dround
from mapreduce_docker_spark.functions.rounding import sql as rsql
from mapreduce_docker_spark.operators import dedup_queries  # noqa: F401 - the
# composed triangle oracle nests dedup_minhash_pairs' registered SQL, which
# must exist at THIS module's import time (not just under registry._load_all)
from mapreduce_docker_spark.registry import register
from mapreduce_docker_spark.sources.catalog import load_table

PAGERANK_ITERS = 10
PAGERANK_D = 0.85


def _dup_edges_sql() -> str:
    """The near-dup pair relation's oracle SQL, nested verbatim as a derived
    table — the composed oracle cannot drift from the stage it reuses."""
    from mapreduce_docker_spark.registry import _REGISTRY

    pairs = _REGISTRY["dedup_minhash_pairs"].sql
    return f"(SELECT doc_a AS lo, doc_b AS hi FROM ({pairs}))"


def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_docker_spark.operators.dedup_queries import dedup_minhash_pairs

    return dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
    )


@register(
    "graph_triangle_stats",
    f"""
    WITH e AS (SELECT lo, hi FROM {_dup_edges_sql()}),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT lo AS v FROM e UNION ALL SELECT hi AS v FROM e)
      GROUP BY v
    ),
    tri AS (
      -- oriented wedge closure: lo<hi on every edge means each triangle
      -- a<b<c is produced exactly once, as wedge (a-b, a-c) closed by (b-c)
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
      JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COALESCE(sum(d * (d - 1) / 2), 0) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles,
           (SELECT CASE WHEN COALESCE(sum(d * (d - 1) / 2), 0) = 0 THEN 0.0
                   ELSE {rsql("3.0 * (SELECT n_triangles FROM tri) / sum(d * (d - 1) / 2)", 6)}
                   END FROM deg) AS clustering
    """,
    section="U2,J1",
    note=(
        "triangle census of the verified near-dup graph (edges = "
        "dedup_minhash_pairs, oracle nested verbatim): nodes, edges, wedges "
        "from degrees, triangles via oriented lo<hi wedge closure (each "
        "triangle counted exactly once, join fan-out bounded by oriented "
        "degree), and the global clustering coefficient 3*tri/wedges — "
        "clique-like boilerplate families vs chains of borderline pairs"
    ),
)
def q_graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_census(_dup_edges(spark, sf_dir))


def triangle_census(e: DataFrame) -> DataFrame:
    """Census plan over an oriented (lo < hi) edge relation.

    Shared by the registered near-dup-graph query and bench.py's
    graph_scaling probe (which feeds synthetically replicated edges), so
    the probe measures exactly the registered plan.
    """
    # The edge relation feeds FOUR branch scans (deg + the e1/e2/e3
    # self-join); materialize it ONCE with an eager localCheckpoint and cut
    # the (expensive — LSH for the registered query) lineage, then return
    # the census as a LAZY plan over the checkpointed edges. The r13 shape
    # (lazy persist + 6 aggregate branches + an eager checkpoint of the
    # 1-row output) made the single materializing job race its branch
    # stages into the not-yet-populated cache, re-deriving the LSH edge
    # lineage several times: at sf0.1 the full query cost far more than
    # dedup_minhash_pairs plus the census over pre-checkpointed edges
    # (OPTIMIZATION_r14.md line 194) — pure branch-recompute overhead: cut
    # lineage, don't re-derive. n_nodes/n_edges/n_wedges now also come out
    # of ONE aggregate over deg (sum(d) = 2|E| exactly, every edge contributing
    # one lo and one hi) instead of three separate branch scans.
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("lo").alias("v"))
        .unionAll(e.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("coalesce(sum(d) div 2, CAST(0 AS BIGINT))").alias("n_edges"),
        F.coalesce(F.sum(F.col("d") * (F.col("d") - 1) / F.lit(2)), F.lit(0.0))
        .cast("long")
        .alias("n_wedges"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.lo") == F.col("e2.lo")) & (F.col("e1.hi") < F.col("e2.hi")),
        )
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.hi")) & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            dround(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .alias("clustering"),
    )


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier trading edges from orders ⋈ lineitem."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )


@register(
    "graph_degree_distribution",
    """
    WITH e AS (
      SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    deg AS (
      SELECT 'customer' AS side, cust AS v, CAST(count(*) AS BIGINT) AS degree
      FROM e GROUP BY cust
      UNION ALL
      SELECT 'supplier' AS side, supp AS v, CAST(count(*) AS BIGINT) AS degree
      FROM e GROUP BY supp
    )
    SELECT side, degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg
    GROUP BY side, degree
    """,
    section="A7,J1",
    note=(
        "degree distribution of the bipartite customer-supplier purchase "
        "graph (one edge per distinct trading relationship): per side, how "
        "many nodes have each degree — the skew diagnostic every graph "
        "algorithm here starts from; two groupBys after one equi-join, "
        "all map-side-combinable"
    ),
)
def q_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _purchase_edges(spark, sf_dir)
    deg = (
        e.groupBy(F.col("cust").alias("v"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.lit("customer").alias("side"), "v", "degree")
        .unionByName(
            e.groupBy(F.col("supp").alias("v"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .select(F.lit("supplier").alias("side"), "v", "degree")
        )
    )
    return deg.groupBy("side", "degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "graph_pagerank_purchases",
    None,  # iterative float accumulation: partition-order-dependent sums;
    # pinned against a numpy power iteration within 1e-9 in tests/test_graph.py
    section="U2",
    note=(
        f"PageRank (d={PAGERANK_D}, {PAGERANK_ITERS} power iterations) over "
        "the symmetrized customer-supplier purchase graph; returns the "
        "top-20 nodes by rank with deterministic (side, id) tiebreak. "
        "Each iteration: edges join ranks, contributions groupBy-sum — one "
        "shuffle round per iteration, lineage truncated every 3 rounds via "
        "localCheckpoint (the connected-components discipline); rows-only "
        "because distributed float addition is partition-order dependent"
    ),
    pin=(
        "third-engine: numpy power-iteration recompute within float "
        "tolerance + plan pin on the iteration join "
        "(tests/test_graph.py::test_pagerank_matches_numpy_power_iteration)"
    ),
)
def q_graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank_top20(_symmetrized_purchase_edges(spark, sf_dir))


def _symmetrized_purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrize with typed node ids (customer ids and supplier ids share
    an integer domain): side 'c'/'s' disambiguates."""
    e = _purchase_edges(spark, sf_dir)
    return e.select(
        F.concat(F.lit("c"), F.col("cust")).alias("src"),
        F.concat(F.lit("s"), F.col("supp")).alias("dst"),
    ).unionByName(
        e.select(
            F.concat(F.lit("s"), F.col("supp")).alias("src"),
            F.concat(F.lit("c"), F.col("cust")).alias("dst"),
        )
    )


def _pagerank_step(edges_w: DataFrame, ranks: DataFrame, n: int) -> DataFrame:
    """One power-iteration round: inflow = edges ⋈ ranks, then groupBy-sum.

    The rank side carries a SHUFFLE_HASH pin — tests/test_graph.py asserts
    the executed plan shows ShuffledHashJoin and NOT BroadcastHashJoin even
    when size estimates would elect a broadcast, because those estimates
    are exactly what the r6 x64 probe measured to be wrong (see
    pagerank_ranks docstring/comments).
    """
    return (
        edges_w.join(ranks.hint("shuffle_hash"), edges_w["src"] == ranks["v"])
        .select(F.col("dst").alias("v"), (F.col("rank") / F.col("odeg")).alias("c"))
        .groupBy("v")
        .agg(
            (F.lit((1.0 - PAGERANK_D) / n) + F.lit(PAGERANK_D) * F.sum("c")).alias(
                "rank"
            )
        )
    )


def pagerank_ranks(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Power iteration over a symmetrized (src, dst) edge relation.

    Shared by the registered purchase-graph query and bench.py's
    graph_scaling probe, so the probe measures exactly the registered
    per-iteration plan. Caller guarantees the graph is symmetric (no
    dangling nodes); returns (v, rank) un-rounded.
    """
    edges = edges.persist()
    nodes = None
    try:
        # fold the (static) out-degree into the edge list ONCE: the loop
        # then pays a single join per iteration instead of two — at any
        # scale the iteration cost is (edges ⋈ ranks) + one groupBy, period.
        # Both node-sized relations (out_deg here, ranks below) are pinned
        # to a SHUFFLE_HASH build: the edge relation often comes out of a
        # generator/replicator (the bench ladder's explode multiplier, any
        # exploded adjacency at scale), whose size ESTIMATE is input-sized
        # while its actual size is multiplier-times larger — the r6 x64
        # probe measured Catalyst electing an 8.4 GiB "broadcast" off such
        # an estimate (hard 8 GiB cap) and multi-hundred-MB mis-broadcasts
        # with 40% run-to-run variance at x16. At 100 TB neither join side
        # is broadcastable; a shuffled hash join with the node-sized side
        # as build is the plan that survives, so we say so explicitly
        # instead of trusting estimates that are provably wrong here.
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
        edges_w = (
            edges.join(out_deg.hint("shuffle_hash"), "src")
            .select("src", "dst", "odeg")
            .localCheckpoint(eager=True)
        )
        nodes = edges_w.select(F.col("src")).distinct().persist()
        n = nodes.count()  # bounded: node count, not row data
        if n == 0:
            # filtered-to-empty graph: return the empty rank relation with
            # the right schema instead of dividing by zero below
            return nodes.select(
                F.col("src").alias("v"), F.lit(0.0).alias("rank")
            )
        ranks = nodes.select(F.col("src").alias("v"), F.lit(1.0 / n).alias("rank"))
        for i in range(iters):
            # the symmetrized graph has no dangling nodes AND no sink-less
            # nodes: every node has out-edges (odeg>0) and in-edges, so the
            # inflow aggregate already covers the full vertex set — no
            # re-join against `nodes` to resurrect zero-inflow vertices.
            # Iteration cost: ONE join + ONE groupBy, nothing else.
            ranks = _pagerank_step(edges_w, ranks, n)
            if (i + 1) % 3 == 0:
                ranks = ranks.localCheckpoint(eager=True)
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        edges.unpersist()
        if nodes is not None:
            nodes.unpersist()
    return ranks


def pagerank_top20(edges: DataFrame) -> DataFrame:
    ranks = pagerank_ranks(edges)
    # order by the ROUNDED rank: raw doubles differ in the last ulp with
    # partition order, so structurally-tied nodes would flip; 9-decimal
    # rounding + the v tiebreak makes the top-20 deterministic
    rounded = ranks.select("v", dround(F.col("rank"), 9).alias("rank"))
    return (
        rounded.orderBy(F.desc("rank"), F.asc("v"))
        .limit(20)
        .select(
            F.substring("v", 1, 1).alias("side"),
            F.substring("v", 2, 30).cast("long").alias("node_id"),
            "rank",
        )
    )
