"""Twenty-second crafted-truth batch: the flagship MinHash-LSH near-dup
pipeline recomputed END-TO-END in pure Python (hashlib + arithmetic) —
tokenize, shingle, md5-prefix hash, 16 affine permutations, 4-row band
buckets, candidate pairing, exact hash-set Jaccard, threshold — and
compared to `dedup_minhash_pairs` output exactly.

The DuckDB oracle shares the engine's constants BY DEFINITION, so it can
never catch a convention error in the pipeline itself; this third engine
can. The fixture is engineered by DETERMINISTIC SEARCH (not luck): one
suffix is chosen so a genuinely-similar pair (Jaccard 0.6) lands in at
least one shared band bucket (LSH recall is probabilistic per pair — a
>=threshold pair with no band collision is correctly absent), and
another so a LOW-Jaccard pair (0.25) DOES collide in a band, proving the
verification threshold — not candidate generation — is what rejects it
on both sides."""

from __future__ import annotations

import hashlib
import re

import crafted
from mapreduce_docker_spark.functions.texthash import (
    BANDS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_HASHES,
)
from mapreduce_docker_spark.operators.dedup_queries import (
    JACCARD_THRESHOLD,
    dedup_minhash_pairs,
)

R = NUM_HASHES // BANDS


def _shingles(text: str) -> set[str]:
    toks = re.findall(r"[a-z]+", text.lower())
    if len(toks) >= 3:
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    return {" ".join(toks)}


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MINHASH_P


def _hs(text: str) -> set[int]:
    return {_h(s) for s in _shingles(text)}


def _sig(hs: set[int]) -> list[int]:
    return [min((a * h + b) % MINHASH_P for h in hs) for a, b in zip(MINHASH_A, MINHASH_B)]


def _bands(sig: list[int]) -> list[tuple[int, tuple[int, ...]]]:
    return [(b, tuple(sig[b * R : b * R + R])) for b in range(BANDS)]


def _python_pipeline(docs: dict[int, str]):
    """(candidates, verified) exactly as the engine defines them."""
    hs = {d: _hs(t) for d, t in docs.items()}
    buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
    for d in sorted(docs):
        for key in _bands(_sig(hs[d])):
            buckets.setdefault(key, []).append(d)
    cands = {
        (a, b)
        for members in buckets.values()
        for i, a in enumerate(members)
        for b in members[i + 1 :]
    }
    verified = {}
    for a, b in cands:
        j = crafted.r(len(hs[a] & hs[b]) / len(hs[a] | hs[b]), 4)
        if j >= JACCARD_THRESHOLD:
            verified[(a, b)] = j
    return cands, verified


def _search_suffix(base: str, want) -> str:
    """First deterministic LETTER-suffixed extension satisfying ``want``.

    The suffix must be letters: the engine tokenizer is [a-z]+ over
    lowered text, so digits vanish and 'q1'/'q2' would collapse to the
    same shingle (the first draft of this test proved that the hard way —
    every trial produced identical signatures)."""
    for k in range(5000):
        suf = ""
        n = k
        while True:
            suf += chr(97 + n % 26)
            n //= 26
            if n == 0:
                break
        text = f"{base} q{suf} r{suf} s{suf}"
        if want(text):
            return text
    raise AssertionError("no suffix found in 5000 trials")


def test_minhash_lsh_pipeline_recomputed_in_python(spark, tmp_path):
    base = "alpha beta gamma delta epsilon"  # 5 tokens -> 3 shingles

    # a similar pair: doc 20 = base + one changed tail token (shares 3 of
    # its 3+? shingles)... engineered instead by searching a suffix so the
    # EXTENDED doc still band-collides with the base doc
    def collides_with_base_and_verifies(text):
        hs_a, hs_b = _hs(base), _hs(text)
        j = len(hs_a & hs_b) / len(hs_a | hs_b)
        if not (JACCARD_THRESHOLD <= j < 1.0):
            return False
        ba, bb = set(_bands(_sig(hs_a))), set(_bands(_sig(hs_b)))
        return bool(ba & bb)

    # jaccard(base, base+3 words) = 3/6 = 0.5 exactly: on-threshold AND
    # the search requires a shared band bucket
    near = _search_suffix(base, collides_with_base_and_verifies)

    # a LOW pair that STILL collides in a band: 1-shingle doc vs its
    # 6-token extension (jaccard 1/4), suffix searched until one band's
    # four mins are all attained at the shared shingle
    small = "pa pb pc"

    def collides_but_fails_verify(text):
        hs_a, hs_b = _hs(small), _hs(text)
        j = len(hs_a & hs_b) / len(hs_a | hs_b)
        if j >= JACCARD_THRESHOLD:
            return False
        ba, bb = set(_bands(_sig(hs_a))), set(_bands(_sig(hs_b)))
        return bool(ba & bb)

    low = _search_suffix(small, collides_but_fails_verify)

    docs = {
        10: base,
        20: near,          # verified pair (10, 20) by construction
        30: small,
        40: low,           # candidate (30, 40) rejected at the threshold
        50: base,          # identical twin of 10: all four bands collide
        60: "zz yy xx ww vv uu",  # unrelated
    }
    spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash_pairs(spark, str(tmp_path)).collect()
    }
    cands, verified = _python_pipeline(docs)

    assert got == verified, (got, verified)
    # the branches the fixture was engineered to exercise really fired:
    assert got[(10, 50)] == 1.0          # identical twin
    assert (10, 20) in got               # the searched similar pair
    assert got[(10, 20)] == crafted.r(0.5, 4)   # exactly on-threshold: kept (>=)
    assert (30, 40) in cands and (30, 40) not in got  # threshold rejection
    assert all(60 not in pair for pair in got)
