"""Pin texthash primitives to pure-Python reference implementations.

The Spark side is the production path: ``shingle_rows`` ->
``shingle_hash`` -> ``minhash_min_exprs`` -> ``band_signature_exprs``, on
the fixture documents plus the degenerate corners.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from pyspark.sql import functions as F

from mapreduce_docker_spark.functions import texthash as th
from mapreduce_docker_spark.functions.tokenize import WORD_PATTERN, py_fold, tokens
from mapreduce_docker_spark.sources.catalog import load_table
from tests.conftest import SF_ORACLE

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the dog was really lazy but the fox was quick",
    "alpha beta",  # shorter than the shingle width
    "one two three one two three one two",  # repeated shingles
]

# empty and NULL text (no grams), 1, 2 and exactly 3 tokens, repeated grams
# (9 tokens -> 7 gram rows, 3 distinct), and no letters at all
CORNERS = [
    (-1, ""),
    (-2, None),
    (-3, "Word"),
    (-4, "two words"),
    (-5, "exactly three tokens"),
    (-6, "a b c a b c a b c"),
    (-7, "  42 !! "),
]


def _py_tokens(t: str | None) -> list[str]:
    return [] if t is None else re.findall(WORD_PATTERN, py_fold(t))


def _py_grams(toks: list[str], k: int = 3) -> list[str]:
    """Every gram occurrence under the gram law."""
    if len(toks) >= k:
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    return [" ".join(toks)] if toks else []


def _py_shingles(toks: list[str]) -> list[str]:
    return list(dict.fromkeys(_py_grams(toks)))


def _py_shingle_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % th.MINHASH_P


def _py_minhash(sh: list[str]) -> list[int]:
    hs = [_py_shingle_hash(s) for s in sh]
    return [
        min((a * h + b) % th.MINHASH_P for h in hs)
        for a, b in zip(th.MINHASH_A, th.MINHASH_B)
    ]


def _py_bands(sig: list[int]) -> list[str]:
    r = th.ROWS_PER_BAND
    return [
        hashlib.md5("|".join(str(x) for x in sig[b * r : b * r + r]).encode()).hexdigest()
        for b in range(th.BANDS)
    ]


def _py_simhash(toks: list[str]) -> int:
    sums = [0] * th.SIMHASH_BITS
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(th.SIMHASH_BITS):
            sums[j] += 1 if h[j] in "89abcdef" else -1
    return sum(1 << j for j, s in enumerate(sums) if s > 0)


def _py_fingerprint(toks: list[str]) -> int:
    acc = 0
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        acc = (acc * th.FP_BASE + h) % th.FP_MOD
    return acc


def _corpus(spark):
    """(doc_id, text): the sf0.01 documents plus the degenerate corners."""
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    return docs.unionByName(spark.createDataFrame(CORNERS, "doc_id bigint, text string"))


def test_shingles_minhash_bands_fingerprint(spark):
    """shingle_rows -> shingle_hash -> minhash_min_exprs ->
    band_signature_exprs, and the rolling fingerprint, equal their Python
    references; a zero-token doc has no signature row."""
    texts = [(i, t) for i, t in enumerate(TEXTS)] + CORNERS
    df = spark.createDataFrame(texts, "id int, text string")
    sig_cols = [f"s{i}" for i in range(th.NUM_HASHES)]
    sigs = th.shingle_hash_rows(df, ["id"]).groupBy("id").agg(
        *[e.alias(c) for c, e in zip(sig_cols, th.minhash_min_exprs(F.col("h")))]
    )
    rows = {
        r["id"]: r
        for r in sigs.select(
            "id",
            F.array(*sig_cols).alias("sig"),
            F.array(*th.band_signature_exprs([F.col(c) for c in sig_cols])).alias(
                "bands"
            ),
        ).collect()
    }
    fps = {
        r["id"]: r["fp"]
        for r in df.select("id", th.rolling_fingerprint(tokens("text")).alias("fp")).collect()
    }
    assert set(rows) == {i for i, t in texts if _py_tokens(t)}
    for i, t in texts:
        toks = _py_tokens(t)
        if toks:
            exp_sig = _py_minhash(_py_shingles(toks))
            assert list(rows[i]["sig"]) == exp_sig, f"minhash differs for {t!r}"
            assert list(rows[i]["bands"]) == _py_bands(exp_sig), f"bands differ for {t!r}"
        if t is not None:
            assert fps[i] == _py_fingerprint(toks), f"fingerprint differs for {t!r}"


def test_shingle_hash_rows_matches_array_path(spark):
    """``shingle_hash_rows`` gives every doc the hash SET of its distinct
    Python shingles (the array formulation), and one row per gram
    occurrence: 7 rows for the 3 distinct grams of ``a b c a b c a b c``."""
    docs = _corpus(spark)
    rows = th.shingle_hash_rows(docs, ["doc_id"])
    got = {
        r["doc_id"]: set(r["hs"])
        for r in rows.groupBy("doc_id").agg(F.collect_list("h").alias("hs")).collect()
    }
    want = {
        r["doc_id"]: {_py_shingle_hash(s) for s in _py_shingles(_py_tokens(r["text"]))}
        for r in docs.collect()
        if _py_tokens(r["text"])
    }
    assert {d for d in got if d < 0} == {-3, -4, -5, -6}
    assert got == want
    for i, t in [(-3, "word"), (-4, "two words"), (-5, "exactly three tokens")]:
        assert got[i] == {_py_shingle_hash(t)}
    assert rows.filter(F.col("doc_id") == -6).count() == 7  # 9 - 3 + 1 grams


def test_curation_generator_emits_tokens_and_grams(spark):
    """The curation base's two-kind index explode gives, per doc, the token
    multiset of ``tokens`` (kind 0) and the gram occurrences of
    ``shingle_rows`` (kind 1), both equal to the Python references; a
    zero-token doc emits nothing."""
    from mapreduce_docker_spark.operators.textanalysis_queries import (
        _token_gram_items,
    )

    docs = _corpus(spark)
    items = _token_gram_items(
        docs.select("doc_id", F.lit("en").alias("lang"), tokens("text").alias("toks"))
    )

    def per_doc(pairs):
        out: dict[tuple[int, int], Counter] = {}
        for key, v in pairs:
            out.setdefault(key, Counter())[v] += 1
        return out

    got = per_doc(((r["doc_id"], r["kind"]), r["v"]) for r in items.collect())
    spark_side = per_doc(
        [
            ((r["doc_id"], 0), r["w"])
            for r in docs.select("doc_id", F.explode(tokens("text")).alias("w")).collect()
        ]
        + [((r["doc_id"], 1), r["s"]) for r in th.shingle_rows(docs, ["doc_id"]).collect()]
    )
    py_side = {}
    for r in docs.collect():
        toks = _py_tokens(r["text"])
        if toks:
            py_side[(r["doc_id"], 0)] = Counter(toks)
            py_side[(r["doc_id"], 1)] = Counter(_py_grams(toks))
    assert {d for d, _ in got if d < 0} == {-3, -4, -5, -6}
    assert got == spark_side == py_side


def test_simhash(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    toks_df = df.select("id", F.explode(tokens("text")).alias("w"))
    votes = th.simhash_votes(F.col("w"))
    agg = toks_df.groupBy("id").agg(*[F.sum(v).alias(f"s{j}") for j, v in enumerate(votes)])
    out = {
        r["id"]: r["simhash"]
        for r in agg.select(
            "id",
            th.simhash_from_vote_sums(
                [F.col(f"s{j}") for j in range(th.SIMHASH_BITS)]
            ).alias("simhash"),
        ).collect()
    }
    for i, t in enumerate(TEXTS):
        assert out[i] == _py_simhash(_py_tokens(t)), f"simhash differs for {t!r}"


def test_shingle_hash_matches_oracle_spelling_bit_exactly(spark):
    """The md5->31-bit hash is the keystone every MinHash oracle rests on:
    the Spark and DuckDB spellings must agree for arbitrary strings (unicode,
    punctuation, md5 hex prefixes with/without leading letters), not just the
    fixture corpus — md5 operates on UTF-8 bytes in both engines and the hex
    prefix -> integer conversions must be identical."""
    import duckdb

    from mapreduce_docker_spark.functions import texthash as th

    vals = [
        "the quick brown fox",
        "a",
        " ",
        "token token token",
        "naïve café über",          # multi-byte UTF-8
        "日本語のテキスト",            # CJK
        "tab\tand\nnewline",
        "0123456789abcdef",
        "x" * 500,                  # long shingle
        "punct!@#$%^&*()",
        "mixedCASE Shingle",
    ] + [f"shingle_{i}_{i*i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    from pyspark.sql import functions as F

    got = [r[0] for r in df.select(th.shingle_hash(F.col("s")).alias("h")).collect()]
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {th.sql_shingle_hash('s')} FROM (SELECT unnest(?::VARCHAR[]) AS s)",
            params=[vals],
        ).fetchall()
    ]
    assert got == want, [
        (v, g, w) for v, g, w in zip(vals, got, want) if g != w
    ][:5]


def test_symspell_blocking_is_complete_at_distance_1(spark):
    """Deletion-neighborhood blocking finds EXACTLY the all-pairs result —
    set equality, not a recall floor: any two words within edit distance 1
    share a deletion key by construction, so the blocked join may not drop
    (or invent) a single pair vs the quadratic baseline."""
    from pyspark.sql import functions as F

    from mapreduce_docker_spark.operators.textanalysis_queries import (
        text_symspell_vocab_pairs,
    )
    from mapreduce_docker_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    blocked = {
        (r["word_a"], r["word_b"], r["edit_dist"])
        for r in text_symspell_vocab_pairs(spark, sf).collect()
    }
    vocab = (
        load_table(spark, sf, "part")
        .select(F.explode(F.split(F.lower("p_name"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    a = vocab.select(F.col("w").alias("word_a"))
    b = vocab.select(F.col("w").alias("word_b"))
    brute = {
        (r["word_a"], r["word_b"], r["edit_dist"])
        for r in a.join(b, F.col("word_a") < F.col("word_b"))
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 1)
        .collect()
    }
    assert blocked == brute
    assert brute, "fixture part vocabulary should contain distance-1 pairs"
