"""Twenty-third crafted-truth batch: SimHash and the count-min sketch
recomputed end-to-end in pure Python (hashlib + arithmetic) — the two
remaining sketch families whose DuckDB oracles share the engine's hash
conventions by definition, so only a third engine can catch a
convention-level misunderstanding.

SimHash specifics pinned: votes are per token OCCURRENCE (a repeated
token votes repeatedly), a perfectly tied bit (vote sum exactly 0) reads
as 0 through the strict > 0 majority, and a zero-token document has no
fingerprint row at all. CMS specifics pinned: the depth-4 affine rows
reuse the first four MinHash permutations over the md5-prefix word hash,
the counter table is exact cell sums, and the point-query estimate is
the min over rows with its one-sided error (overcount >= 0) — the
fixture is chosen so at least one real collision makes an overcount
strictly positive."""

from __future__ import annotations

import hashlib
from collections import Counter

import crafted
from mapreduce_docker_spark.functions.texthash import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    SIMHASH_BITS,
)
from mapreduce_docker_spark.operators.dedup_queries import (
    dedup_simhash,
    dedup_simhash_buckets,
)
from mapreduce_docker_spark.operators.textanalysis_queries import (
    CMS_DEPTH,
    CMS_WIDTH,
    sketch_cms_counters,
    sketch_cms_heavy_hitters,
)

_HIGH = set("89abcdef")


def _simhash(tokens: list[str]) -> int:
    sums = [0] * SIMHASH_BITS
    for t in tokens:
        hx = hashlib.md5(t.encode()).hexdigest()
        for j in range(SIMHASH_BITS):
            sums[j] += 1 if hx[j] in _HIGH else -1
    return sum(1 << j for j in range(SIMHASH_BITS) if sums[j] > 0)


def test_simhash_recomputed_in_python(spark, tmp_path):
    docs = [
        (1, "alpha beta gamma"),
        (2, "alpha alpha"),       # repeated token: votes twice
        (3, "alpha beta"),        # any bit where the two differ ties to 0
        (4, "alpha beta gamma"),  # identical twin of doc 1
        (5, ""),                  # zero tokens: NO fingerprint row
    ]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash"]
        for r in dedup_simhash(spark, str(tmp_path)).collect()
    }
    want = {d: _simhash(t.split()) for d, t in docs if t}
    assert got == want, (got, want)

    # the tie branch really fired: alpha and beta disagree on some hex
    # position, so doc 3 has a bit with vote sum exactly 0 -> bit 0
    ha = hashlib.md5(b"alpha").hexdigest()
    hb = hashlib.md5(b"beta").hexdigest()
    tied = [
        j
        for j in range(SIMHASH_BITS)
        if (ha[j] in _HIGH) != (hb[j] in _HIGH)
    ]
    assert tied, "fixture lost its tie bits — pick different tokens"
    for j in tied:
        assert not (want[3] >> j) & 1

    buckets = {
        r["simhash"]: (r["n_docs"], r["keeper"])
        for r in dedup_simhash_buckets(spark, str(tmp_path)).collect()
    }
    assert buckets[want[1]] == (2, 1)  # docs 1 and 4 collide, keeper = min


def _word_h(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % MINHASH_P


def _cms(words: Counter):
    coefs = list(zip(MINHASH_A, MINHASH_B))[:CMS_DEPTH]
    counters: dict[tuple[int, int], int] = {}
    cells: dict[str, list[tuple[int, int]]] = {}
    for w, c in words.items():
        h = _word_h(w)
        cells[w] = [
            (j, ((a * h + b) % MINHASH_P) % CMS_WIDTH)
            for j, (a, b) in enumerate(coefs)
        ]
        for key in cells[w]:
            counters[key] = counters.get(key, 0) + c
    est = {w: min(counters[key] for key in cells[w]) for w in words}
    return counters, est


def test_cms_counters_and_point_queries_recomputed_in_python(spark, tmp_path):
    """The vocabulary repeats 70 distinct words over a 64-bucket width, so
    the pigeonhole guarantees collisions in every hash row; the assertions
    require at least one word's estimate to exceed its exact count
    (one-sided error observed, not just possible) while every estimate
    stays >= exact."""
    vocab = [f"w{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(70)]
    # skewed counts: word i appears (i % 7) + 1 times
    tokens = [w for i, w in enumerate(vocab) for _ in range((i % 7) + 1)]
    # spread over a few documents (per-doc split is irrelevant to the sketch)
    docs = [
        (d, " ".join(tokens[d * 40 : (d + 1) * 40]))
        for d in range((len(tokens) + 39) // 40)
    ]
    crafted.write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    words = Counter(tokens)
    counters, est = _cms(words)

    got_counters = {
        (r["j"], r["bucket"]): r["bucket_cnt"]
        for r in sketch_cms_counters(spark, str(tmp_path)).collect()
    }
    assert got_counters == counters

    got_hh = [
        (r["word"], r["cnt"], r["est"], r["overcount"])
        for r in sketch_cms_heavy_hitters(spark, str(tmp_path)).collect()
    ]
    want_hh = sorted(
        ((w, c, est[w], est[w] - c) for w, c in words.items()),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    assert got_hh == want_hh
    assert all(o >= 0 for _, _, _, o in got_hh)  # one-sided by construction
    assert any(o > 0 for w, c, e, o in (
        (w, c, est[w], est[w] - c) for w, c in words.items()
    )), "no collision produced an overcount — widen the vocabulary"
