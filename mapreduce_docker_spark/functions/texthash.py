"""Deterministic text-hashing primitives: shingles, MinHash, SimHash, rolling hash.

Each primitive is defined ONCE per engine — one Spark Column expression and its
DuckDB SQL-fragment twin — from the same constants, so the engine and the
oracle compute bit-identical values. Shingles have one Spark derivation,
the codegen index-explode :func:`shingle_rows` (one row per gram
occurrence), twinned by :func:`sql_shingles` (the per-doc distinct gram
list); MinHash and band signatures are aggregate/column expressions over
its rows (:func:`minhash_min_exprs`, :func:`band_signature_exprs`). All
hashing routes through ``md5`` (identical lowercase-hex output on both
engines); no engine-specific hash (Spark ``hash``/xxhash, DuckDB ``hash``)
is ever used in an oracle-checked path.

Scale notes: every primitive here is a per-row expression (no shuffle); the
MinHash path costs ONE md5 per shingle (31-bit hash) plus NUM_HASHES integer
affine maps, computed via explode + codegen'd min-aggregate — at 100 TB this
is embarrassingly parallel map work with map-side partial agg. The classic
alternative (pyspark.ml's MinHashLSH) needs a fitted model + vector
assembler; this formulation keeps the pipeline pure-SQL-expressible, which
is what makes the DuckDB hash-match oracle possible at all.

Reference lineage: the reference system has no dedup surface — this is the
[EXT] mandate (SURVEY.md §2.10 U1-U2; BASELINE.json north_star).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE_K = 3
FP_MOD = 1_000_000_007
FP_BASE = 31

# ---------------------------------------------------------------------------
# word shingles (k-gram over the token sequence)
# ---------------------------------------------------------------------------
# The fixture vocabulary is tiny (~31 words), so token-SET similarity
# saturates; k-gram shingles over the token SEQUENCE discriminate real
# near-duplicates (same word order) from coincidental vocab overlap.
#
# Gram law: a doc of n >= k tokens has the n-k+1 contiguous k-grams; a
# short-but-nonempty doc (0 < n < k) has ONE whole-doc gram; a ZERO-token
# doc (empty, whitespace-only, or NULL text) has NO grams — not the single
# empty-string gram ``concat_ws`` would make of an empty array (r10
# degenerate sweep: all contentless docs then band-matched each other as
# jaccard-1.0 near-duplicates). Contentless duplicates belong to EXACT
# dedup upstream; the near-dup relation is defined over docs with at least
# one token, identically on both engines.


def gram_count(toks: Column, k: int = SHINGLE_K) -> Column:
    """Number of grams of a token array under the gram law (0 for NULL)."""
    n = F.size(toks)
    return F.when(n >= k, n - (k - 1)).when(n > 0, F.lit(1)).otherwise(F.lit(0))


def gram(toks: Column, i: Column, k: int = SHINGLE_K) -> Column:
    """The i-th (1-based) gram: ``slice`` past the end truncates, so i=1 of
    a short doc is the whole-doc gram."""
    return F.concat_ws(" ", F.slice(toks, i, k))


def positions(m: Column) -> Column:
    """array<int> [1..m], empty for m < 1 (``sequence(1, 0)`` would be the
    DESCENDING [1, 0], not an empty array)."""
    return F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )


def shingle_rows(df, cols: list[str], text_col: str = "text"):
    """(*cols, s): one row per gram OCCURRENCE of ``tokens(text_col)``.

    The one Spark shingle derivation, fully inside whole-stage codegen: the
    tokens are projected ONCE (the named ``_toks`` projection feeds the
    generator), the generator explodes the gram INDEX sequence, and each
    gram is an ordinary projected ``concat_ws(' ', slice(toks, i, k))`` —
    no lambda-bearing higher-order function, which Spark never codegens.

    Duplicates are KEPT: a doc repeating a gram yields one row per
    occurrence. Set consumers say so explicitly (``distinct()``,
    ``collect_set``); the MinHash ``min`` aggregates cannot see them.
    tests/test_texthash.py pins the rows against a pure-Python reference
    on the fixture and the degenerate corners.
    """
    from mapreduce_docker_spark.functions.tokenize import tokens

    d = df.select(*cols, tokens(text_col).alias("_toks"))
    toks = F.col("_toks")
    d = d.select(*cols, "_toks", F.explode(positions(gram_count(toks))).alias("_i"))
    return d.select(*cols, gram(toks, F.col("_i")).alias("s"))


def sql_shingles(tokens_expr: str, k: int = SHINGLE_K) -> str:
    """DuckDB twin of :func:`shingle_rows`, as the per-doc DISTINCT gram
    list (1-based inclusive list slicing).

    The zero-token branch is explicit: ``len(NULL)`` is NULL so both
    WHENs fall through and NULL/empty token arrays yield ``[]``."""
    return (
        f"list_distinct(CASE WHEN len({tokens_expr}) >= {k} THEN "
        f"list_transform(generate_series(1, len({tokens_expr}) - {k - 1}), "
        f"i -> array_to_string(({tokens_expr})[i:i+{k - 1}], ' ')) "
        f"WHEN len({tokens_expr}) > 0 THEN [array_to_string({tokens_expr}, ' ')] "
        f"ELSE [] END)"
    )


# ---------------------------------------------------------------------------
# MinHash: one md5 per shingle -> 31-bit integer -> NUM_HASHES affine
# permutations h_i(x) = (a_i*x + b_i) mod P, signature[i] = min over shingles.
# ---------------------------------------------------------------------------
# P is the Mersenne prime 2^31-1, so every affine map with a_i != 0 is a
# bijection on [0, P) and min-over-affine-hash is a valid uniform min-hash.
# Spark computes it with EXPLODE + a codegen'd groupBy(min(...)): interpreted
# higher-order-function lambdas (transform/array_min) stay out of
# corpus-scale plans.

MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_A = tuple((1_103_515_245 * (i + 1) + 12_345) % MINHASH_P or 1 for i in range(NUM_HASHES))
MINHASH_B = tuple((69_069 * (i + 1) + 1) % MINHASH_P for i in range(NUM_HASHES))


def shingle_hash(shingle_col: Column) -> Column:
    """31-bit integer hash of one shingle: first 8 md5 hex digits mod P."""
    return (
        F.conv(F.substring(F.md5(shingle_col), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )


def sql_shingle_hash(shingle_expr: str) -> str:
    return f"(('0x' || substr(md5({shingle_expr}), 1, 8))::BIGINT % {MINHASH_P})"


def minhash_min_exprs(h_col: Column) -> list[Column]:
    """Aggregate expressions ``min((a_i*h + b_i) % P)`` — the hot path.

    Use over an exploded (doc_id, h) relation: every expression stays inside
    whole-stage codegen and the partial aggregation reduces each doc to
    NUM_HASHES longs before the shuffle — the map-side-combiner shape the
    reference hand-builds (worker.py:15).
    """
    return [
        F.min((F.lit(a) * h_col + F.lit(b)) % F.lit(MINHASH_P))
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


def shingle_hash_rows(df, cols: list[str], text_col: str = "text"):
    """(*cols, h): :func:`shingle_rows` with each gram hashed by
    :func:`shingle_hash` — one 31-bit hash row per gram OCCURRENCE
    (duplicates kept, see :func:`shingle_rows`)."""
    return shingle_rows(df, cols, text_col).select(
        *cols, shingle_hash(F.col("s")).alias("h")
    )


def sql_minhash_min_exprs(h_expr: str) -> list[str]:
    return [
        f"min(({a} * {h_expr} + {b}) % {MINHASH_P})"
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


def band_signature_exprs(sig_cols: list[Column], bands: int = BANDS) -> list[Column]:
    """Band signatures straight from NUM_HASHES scalar columns (codegen path)."""
    r = len(sig_cols) // bands
    return [
        F.md5(F.concat_ws("|", *[c.cast("string") for c in sig_cols[b * r : b * r + r]]))
        for b in range(bands)
    ]


def sql_band_signature_exprs(sig_exprs: list[str], bands: int = BANDS) -> list[str]:
    r = len(sig_exprs) // bands
    return [
        "md5(concat_ws('|', "
        + ", ".join(f"({e})::VARCHAR" for e in sig_exprs[b * r : b * r + r])
        + "))"
        for b in range(bands)
    ]


# ---------------------------------------------------------------------------
# SimHash (16-bit): majority vote per bit over md5 hex digits of each token
# ---------------------------------------------------------------------------
# Bit j of a token's hash := high bit of hex digit j of md5(token). Each
# token OCCURRENCE votes +1/-1; simhash bit j is 1 iff the sum is > 0.

SIMHASH_BITS = 16
_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash_votes(token_col: Column) -> list[Column]:
    """Per-token ±1 vote columns, one per simhash bit."""
    h = F.md5(token_col)
    return [
        F.when(F.substring(h, j + 1, 1).isin(*_HIGH_HEX), F.lit(1)).otherwise(F.lit(-1))
        for j in range(SIMHASH_BITS)
    ]


def simhash_from_vote_sums(sum_cols: list[Column]) -> Column:
    """Fold per-bit vote sums into the integer simhash value."""
    acc = F.lit(0)
    for j, s in enumerate(sum_cols):
        acc = acc + F.when(s > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def sql_simhash_vote(j: int, token_expr: str) -> str:
    highs = ", ".join(f"'{d}'" for d in _HIGH_HEX)
    return f"CASE WHEN substring(md5({token_expr}), {j + 1}, 1) IN ({highs}) THEN 1 ELSE -1 END"


# ---------------------------------------------------------------------------
# Rolling polynomial fingerprint over the token sequence (Rabin-Karp shape)
# ---------------------------------------------------------------------------


def rolling_fingerprint(tokens_col: Column) -> Column:
    """fp = fold(tokens, 0, (acc, t) -> (acc*31 + hash32(t)) % 1e9+7).

    hash32(t) = first 8 hex digits of md5(t) as an integer; intermediate
    values stay < 3.6e10, safely inside int64 on both engines.
    """
    return F.aggregate(
        tokens_col,
        F.lit(0).cast("long"),
        lambda acc, t: (
            acc * F.lit(FP_BASE)
            + F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        )
        % F.lit(FP_MOD),
    )


def sql_rolling_fingerprint(tokens_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({tokens_expr}, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)), "
        f"(acc, h) -> (acc * {FP_BASE} + h) % {FP_MOD})"
    )
