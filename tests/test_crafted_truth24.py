"""Twenty-fourth crafted-truth batch: the SRP embedding near-dup
pipeline (`dedup_embedding_pairs`) recomputed end-to-end in pure Python
— seeded hyperplanes regenerated from hashlib, sign bits via the same
index-order float fold, 24x6-bit band buckets, the 80/144 Hamming
agreement gate, and the exact unit-cosine verify at 0.40.

The DuckDB oracle derives its planes from the same md5 recipe, so a
recipe-level misunderstanding is invisible to it; this third engine
regenerates everything from the documented definition alone. The fixture
is engineered by deterministic search so every REJECTION stage fires on
a real pair: one probe vector shares a band bucket but fails the Hamming
gate, another passes bands AND Hamming but fails the cosine threshold,
the negated twin flips every bit (no shared bucket despite |cos| = 1),
and the zero vector is defined out before blocking."""

from __future__ import annotations

import hashlib
import math

import numpy as np

import crafted
from mapreduce_docker_spark.operators.dedup_queries import (
    COSINE_DUP_THRESHOLD,
    DEDUP_SRP_AGREE_MIN,
    DEDUP_SRP_BANDS,
    DEDUP_SRP_BITS,
    EMB_DIM,
    dedup_embedding_pairs,
)

N_PLANES = DEDUP_SRP_BANDS * DEDUP_SRP_BITS


def _planes() -> list[list[float]]:
    # regenerated from the DOCUMENTED recipe with hashlib alone — not
    # imported from the engine helper, which is the point of a third engine
    return [
        [
            int(hashlib.md5(f"srpdedup:{j}:{k}".encode()).hexdigest()[:8], 16)
            / float(1 << 31)
            - 1.0
            for k in range(EMB_DIM)
        ]
        for j in range(N_PLANES)
    ]


_PLANES = _planes()


def _as_f32(vec: list[float]) -> list[float]:
    """The fixture column is float[]: replicate the float32 round-trip."""
    return [float(np.float32(x)) for x in vec]


def _bits(e: list[float]) -> str:
    out = []
    for p in _PLANES:
        acc = 0.0
        for x, w in zip(e, p):  # index-order fold, like F.aggregate
            acc += x * w
        out.append("1" if acc >= 0 else "0")
    return "".join(out)


def _agreement(ba: str, bb: str) -> int:
    return sum(1 for x, y in zip(ba, bb) if x == y)


def _unit(e: list[float]) -> list[float]:
    sq = 0.0
    for x in e:
        sq += x * x
    n = math.sqrt(sq)
    return [x / n for x in e]


def _cos(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(_unit(a), _unit(b)):
        acc += x * y
    return acc


def _bands_of(bits: str) -> set[tuple[int, str]]:
    return {
        (j, bits[j * DEDUP_SRP_BITS : (j + 1) * DEDUP_SRP_BITS])
        for j in range(DEDUP_SRP_BANDS)
    }


def _gen(seed: int) -> list[float]:
    """Deterministic vector family; components are x/16 (float32-exact)."""
    return _as_f32(
        [
            ((((k * 2654435761 + seed * 40503 + 12345) >> 7) % 33) - 16) / 16.0
            for k in range(EMB_DIM)
        ]
    )


def _search(pred, lo: int = 0, hi: int = 4000) -> list[float]:
    for s in range(lo, hi):
        v = _gen(s)
        if pred(v):
            return v
    raise AssertionError("no vector found — widen the search")


def test_srp_embedding_pairs_recomputed_in_python(spark, tmp_path):
    base = _gen(999_000)
    bb = _bits(base)

    def near_ok(v):
        # verified-pair target: shares a band, passes Hamming, cos above
        # threshold but below 1 (a genuinely distinct vector)
        if v == base:
            return False
        bv = _bits(v)
        return (
            bool(_bands_of(bb) & _bands_of(bv))
            and _agreement(bb, bv) >= DEDUP_SRP_AGREE_MIN
            and COSINE_DUP_THRESHOLD <= crafted.r(_cos(base, v), 4) < 1.0
        )

    def band_but_no_hamming(v):
        bv = _bits(v)
        return (
            bool(_bands_of(bb) & _bands_of(bv))
            and _agreement(bb, bv) < DEDUP_SRP_AGREE_MIN
        )

    def hamming_but_no_cos(v):
        bv = _bits(v)
        return (
            bool(_bands_of(bb) & _bands_of(bv))
            and _agreement(bb, bv) >= DEDUP_SRP_AGREE_MIN
            and crafted.r(_cos(base, v), 4) < COSINE_DUP_THRESHOLD
        )

    # mix the base into the candidate family so similar vectors exist to
    # find: v = normalize-free blend (base + small family perturbation)
    def _blend(seed, w16):
        fam = _gen(seed)
        return _as_f32(
            [(bx * (16 - w16) + fx * w16) / 16.0 for bx, fx in zip(base, fam)]
        )

    def _search_blend(pred, w16):
        for s in range(4000):
            v = _blend(s, w16)
            if pred(v):
                return v
        raise AssertionError("no blend found — widen the search")

    near = _search_blend(near_ok, 6)            # mostly-base: high cos
    no_ham = _search_blend(band_but_no_hamming, 14)  # mostly-noise
    no_cos = _search_blend(hamming_but_no_cos, 11)

    vecs = {
        1: base,
        2: list(base),                     # identical twin: cos exactly 1
        3: near,                           # the verified non-trivial pair
        4: [-x for x in base],             # every bit flips: never blocked
        5: [0.0] * EMB_DIM,          # zero-norm: defined out
        6: no_ham,                         # band hit, Hamming rejection
        7: no_cos,                         # Hamming hit, cosine rejection
    }
    spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_embedding_pairs(spark, str(tmp_path)).collect()
    }

    # full python pipeline over the same fixture
    live = {i: v for i, v in vecs.items() if any(x != 0.0 for x in v)}
    bits = {i: _bits(v) for i, v in live.items()}
    band_pairs = {
        (a, b)
        for a in live
        for b in live
        if a < b and (_bands_of(bits[a]) & _bands_of(bits[b]))
    }
    ham_pairs = {
        p for p in band_pairs if _agreement(bits[p[0]], bits[p[1]]) >= DEDUP_SRP_AGREE_MIN
    }
    want = {
        p: crafted.r(_cos(live[p[0]], live[p[1]]), 4)
        for p in ham_pairs
        if crafted.r(_cos(live[p[0]], live[p[1]]), 4) >= COSINE_DUP_THRESHOLD
    }
    assert got == want, (got, want)

    # every engineered branch demonstrably fired
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert (1, 6) in band_pairs and (1, 6) not in ham_pairs
    assert (1, 7) in ham_pairs and (1, 7) not in want
    assert all(4 not in p and 5 not in p for p in got)
