"""Bloom-filter membership: fixed-size set synopsis + decontamination at scale.

The exact n-gram decontamination query (textanalysis_queries.py,
`text_decontaminate_ngram`) broadcasts the benchmark's DISTINCT SHINGLE
STRINGS — fine while the eval set is bounded, but the broadcast grows with
the benchmark's text. A Bloom filter replaces it with a FIXED-size bit set
(`BLOOM_M` bits regardless of benchmark size): membership says "definitely
not present" or "present modulo a false-positive rate of ~fill^K" — the
right direction for decontamination, where a false positive only
quarantines an extra doc for exact re-check, while a false negative (which
Bloom filters never produce) would leak eval data into training.

Determinism makes this FULLY oracle-checkable — rare for a sketch: the K
bit positions are md5-affine maps (functions/texthash.shingle_hash ∘ K
affine permutations mod P, then mod M), every one expressible identically
in DuckDB SQL, so engine and oracle build bit-identical filters and flag
bit-identical docs, false positives included.

Scale notes (100 TB corpus, bounded benchmark):
* build: one scan of the (bounded) benchmark docs -> distinct bit indexes;
  the result relation is <= M rows (KB-scale) whatever the benchmark holds.
  The filter is MERGEABLE by construction — bit sets from per-shard builds
  union, the same pre-aggregated-synopsis pattern as the CMS/HLL sketches.
* probe: corpus pays one scan; each distinct (doc, shingle) explodes to K
  bit rows and joins the broadcast bit set; the membership test is
  count(matched rows) == K, then a map-side-combinable per-doc count.
  No corpus-x-corpus shuffle, no benchmark-sized broadcast — the broadcast
  is M bits, period.

Reference lineage: the reference has no membership surface; this extends
the [EXT] dedup/decontamination mandate (SURVEY.md §2.10 U1/U4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_docker_spark.functions import texthash as th
from mapreduce_docker_spark.functions.rounding import dround
from mapreduce_docker_spark.functions.rounding import sql as rsql
from mapreduce_docker_spark.functions.tokenize import SQL_TOKENS
from mapreduce_docker_spark.registry import register
from mapreduce_docker_spark.sources.catalog import load_table, scatter

# Filter geometry. M is sized for the FIXTURE benchmark (~1k distinct
# shingles at sf0.1 -> fill ~0.23, fp ~3e-3); a production eval suite sizes
# M ~ 1.44 * n * log2(1/fp) bits as usual — the queries only depend on the
# constants through these two names, and the bitmap stays a trivially
# shippable 16 KB literal.
BLOOM_M = 16384
BLOOM_K = 4
_P = th.MINHASH_P
# affine families disjoint from the MinHash ones (different seed mix), so
# the Bloom positions are independent of the LSH signatures
BLOOM_A = tuple((2_654_435_761 * (j + 1) + 40_503) % _P or 1 for j in range(BLOOM_K))
BLOOM_B = tuple((97_531 * (j + 1) + 7) % _P for j in range(BLOOM_K))

# benchmark stand-in: same cut as text_decontaminate_ngram so the exact and
# Bloom paths answer the same question and tests can pin superset-ness
BENCH_MAX_DOC = 20

_SQL_SHINGLES = th.sql_shingles(SQL_TOKENS)


def bloom_positions(h_col) -> F.Column:
    """Array of the K bit positions of one 31-bit shingle hash."""
    return F.array(
        *[
            ((F.lit(a) * h_col + F.lit(b)) % F.lit(_P)) % F.lit(BLOOM_M)
            for a, b in zip(BLOOM_A, BLOOM_B)
        ]
    )


def _sql_positions(h_expr: str) -> str:
    return (
        "["
        + ", ".join(
            f"(({a} * {h_expr} + {b}) % {_P}) % {BLOOM_M}"
            for a, b in zip(BLOOM_A, BLOOM_B)
        )
        + "]"
    )


# shared oracle CTEs: benchmark bit set from the first BENCH_MAX_DOC docs
_SQL_BITS_CTE = f"""
    d AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents),
    bench_h AS (
      SELECT DISTINCT {th.sql_shingle_hash("s")} AS h
      FROM (SELECT unnest(sh) AS s FROM d WHERE doc_id < {BENCH_MAX_DOC})
    ),
    bits AS (
      SELECT DISTINCT unnest({_sql_positions("h")}) AS bit FROM bench_h
    )
"""


def _bench_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 31-bit hashes of the benchmark shingles (the filter's keys)."""
    return th.shingle_hash_rows(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < BENCH_MAX_DOC
        ),
        [],
    ).distinct()


def _bench_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct Bloom bit indexes set by the benchmark shingles (<= M rows)."""
    return (
        _bench_keys(spark, sf_dir)
        .select(F.explode(bloom_positions(F.col("h"))).alias("bit"))
        .distinct()
    )


@register(
    "bloom_benchmark_filter",
    f"""
    WITH {_SQL_BITS_CTE},
    f AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM bench_h) AS n_keys,
             (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set
    )
    SELECT n_keys, n_bits_set,
           {rsql(f"n_bits_set / {float(BLOOM_M)}", 6)} AS fill_ratio,
           {rsql(
               " * ".join([f"(n_bits_set / {float(BLOOM_M)})"] * BLOOM_K), 8
           )} AS approx_fp_rate
    FROM f
    """,
    section="U1,A4",
    note=(
        f"Bloom filter build over the benchmark shingle set ({BLOOM_M} bits, "
        f"{BLOOM_K} md5-affine hashes): distinct keys, bits set, fill ratio, "
        "and the fill^K false-positive estimate (spelled as repeated "
        "multiplication — pow() may differ across engines in the last ulp). "
        "Deterministic construction, so the sketch itself is oracle-checked "
        "bit-for-bit; mergeable by bit-set union (the per-shard build "
        "pattern). The filter is <= M rows however large the benchmark text"
    ),
)
def q_bloom_benchmark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = _bench_keys(spark, sf_dir)
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_keys"))
    n_bits = (
        keys.select(F.explode(bloom_positions(F.col("h"))).alias("bit"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_bits_set"))
    )
    fill = F.col("n_bits_set") / F.lit(float(BLOOM_M))
    prod = fill
    for _ in range(BLOOM_K - 1):
        prod = prod * fill
    # two scalar aggregates of the same tiny relation: a 1x1 cross join is
    # a broadcast scalar injection, not a data-sized product
    return n_keys.crossJoin(n_bits).select(
        "n_keys",
        "n_bits_set",
        dround(fill, 6).alias("fill_ratio"),
        dround(prod, 8).alias("approx_fp_rate"),
    )


@register(
    "text_decontaminate_bloom",
    f"""
    WITH {_SQL_BITS_CTE},
    corp AS (
      SELECT DISTINCT doc_id, {th.sql_shingle_hash("s")} AS h
      FROM (
        SELECT doc_id, unnest(sh) AS s FROM d WHERE doc_id >= {BENCH_MAX_DOC}
      )
    ),
    probes AS (
      SELECT doc_id, h, unnest({_sql_positions("h")}) AS bit FROM corp
    ),
    members AS (
      SELECT doc_id, h
      FROM probes p JOIN bits b USING (bit)
      GROUP BY doc_id, h
      HAVING count(*) = {BLOOM_K}
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
    FROM members
    GROUP BY doc_id
    """,
    section="U1,U4",
    note=(
        "Bloom-filter decontamination: corpus docs whose distinct shingles "
        "test positive against the benchmark filter (ALL K bit probes set), "
        "counted per doc — the fixed-size-broadcast alternative to the "
        "exact shingle join, false positives deterministic and identical on "
        "both engines; no false negatives by construction (superset of the "
        "exact flags, pinned in tests/test_membership.py). Probe side: the "
        f"filter ships as an M-bit bitmap literal (bounded collect, M={BLOOM_M}, "
        "an array of M/64 longs) and membership is a map-side K-getbit "
        "expression in codegen — "
        "one corpus scan, zero joins, the only shuffle carries the member "
        "subset (plan pinned: no join, no pre-filter exchange)"
    ),
)
def q_text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the filter as an M-bit BITMAP LITERAL — an array of
    # M/64 longs: the collect is bounded at M=BLOOM_M values whatever the
    # benchmark holds (the SRP-plane / query-matrix budget class), and
    # membership becomes a pure map-side expression — K affine maps + K
    # getbit probes per distinct shingle, inside whole-stage codegen. No
    # probe explosion, no join: this is what shipping a real Bloom filter
    # to workers IS. Member shingles are filtered BEFORE the distinct, so
    # the only shuffle carries the (tiny) contaminated subset.
    # r14 opt: the bitmap used to be an M-char '0'/'1' STRING probed with
    # substring(bitmap, pos, 1) — but UTF8String.substringSQL re-counts
    # chars from the start of the 16 KB literal on EVERY probe, an O(M)
    # byte scan per probe that dominated the whole query (guide §1.2
    # per-task work; sf0.1 timing and the outputs check: OPTIMIZATION_r14.md
    # line 195). getbit(long, pos) is O(1).
    set_bits = {r["bit"] for r in _bench_bits(spark, sf_dir).collect()}
    words = []
    for w in range(BLOOM_M // 64):
        v = 0
        for j in range(64):
            if (w * 64 + j) in set_bits:
                v |= 1 << j
        words.append(v - (1 << 64) if v >= 1 << 63 else v)  # two's complement
    # element type pinned explicitly (judge-r15 ADVICE #1): F.lit infers
    # per-element — a sparse filter whose words all fit int32 would become
    # array<int> and getbit at positions >= 32 throws at runtime
    bitmap = F.lit(words).cast("array<bigint>")
    member = None
    for a, b in zip(BLOOM_A, BLOOM_B):
        pos = ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_P)) % F.lit(BLOOM_M)
        probe = (
            F.getbit(
                F.element_at(bitmap, (pos / 64 + 1).cast("int")),
                (pos % 64).cast("int"),
            )
            == 1
        )
        member = probe if member is None else (member & probe)
    # scatter: the corpus-side tokenize+md5 is the map-heavy hot path, and a
    # single-row-group fixture file would otherwise run it on one core.
    # Duplicate gram occurrences are invisible behind the distinct.
    return (
        th.shingle_hash_rows(
            scatter(load_table(spark, sf_dir, "documents"), key="doc_id").filter(
                F.col("doc_id") >= BENCH_MAX_DOC
            ),
            ["doc_id"],
        )
        .filter(member)
        .distinct()  # distinct member HASHES per doc, matching the oracle
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
