"""Twenty-seventh batch — the IVF k-means quantizer recomputed as a THIRD
engine (judge-r9 next-round #4, closing the last hash-convention family
without one).

The DuckDB oracle for ``sim_ann_ivf`` shares the engine's constants and
conventions BY DEFINITION (same md5 seed ranking, same rounded-score
assignment, same renormalization), so a convention misunderstanding held
by both sides would sail through the driver gate. This file replicates
the whole quantizer — unit-normalize, the vec_id % 4 training sample,
md5-ranked seed pick, KMEANS_ITERS Lloyd rounds of rounded-score assign
-> 6dp-rounded component means -> renormalize, final nearest-centroid
assignment of the corpus — in pure Python/hashlib/math, importing ONLY
the constants, and compares to the engine's relations EXACTLY (bit-equal
centroid doubles, identical assignment map).

Sharpness (the searched-fixture discipline of batches 22-24): the
generated 96-vector fixture (seed 4 of the deterministic search) was
chosen so that EITHER convention error provably moves assignments —
ranking seeds by vec_id instead of md5(vec_id) changes 94 of 96 final
assignments, and skipping the post-mean renormalization changes 27 — so
agreement with the true convention is not vacuous.

Engine refs: similarity_queries.py `_ivf_centroids` / `_assign_best` /
`_renormalized_centroids` (IVF_K=10, KMEANS_ITERS=2, sample mod 4),
dedup_queries.py `_unit_vectors` / `_dot` (left-fold array-order sums),
functions/rounding.py `dround` (floor(x*10^n + 0.5) / 10^n).
"""

from __future__ import annotations

import hashlib
import math

import crafted
from mapreduce_docker_spark.operators.similarity_queries import (
    IVF_K,
    KMEANS_ITERS,
    _KMEANS_SAMPLE_MOD,
    _assign_best,
    _ivf_centroids,
)
from mapreduce_docker_spark.operators.dedup_queries import _unit_vectors


# --- the third engine: pure Python, engine constants only -----------------


def _sqsum(v: list[float]) -> float:
    s = 0.0
    for y in v:
        s += y * y  # left fold in array order == F.aggregate
    return s


def _unitize(v: list[float]) -> list[float]:
    n = math.sqrt(_sqsum(v))
    return [x / n for x in v]


def _dotp(a: list[float], b: list[float]) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _best(u: list[float], cents: dict[int, list[float]]) -> int:
    """Nearest centroid on the 4dp-ROUNDED score, cent_id tiebreak."""
    return min(cents, key=lambda cid: (-crafted.r(_dotp(u, cents[cid]), 4), cid))


def _ivf_third_engine(
    vecs: dict[int, list[float]],
    seed_by_md5: bool = True,
    renormalize: bool = True,
) -> tuple[dict[int, int], dict[int, list[float]]]:
    """Full quantizer recompute; the two keyword switches exist only to
    PROVE the fixture distinguishes the conventions."""
    unit = {vid: _unitize(v) for vid, v in vecs.items() if _sqsum(v) > 0}
    sample = {vid: u for vid, u in unit.items() if vid % _KMEANS_SAMPLE_MOD == 0}
    key = (
        (lambda vid: (hashlib.md5(str(vid).encode()).hexdigest(), vid))
        if seed_by_md5
        else (lambda vid: vid)
    )
    order = sorted(sample, key=key)
    cents = {i: sample[vid] for i, vid in enumerate(order[:IVF_K])}
    for _ in range(KMEANS_ITERS):
        assign = {vid: _best(u, cents) for vid, u in sample.items()}
        new: dict[int, list[float]] = {}
        for cid in sorted(set(assign.values())):
            members = [sample[vid] for vid in sorted(sample) if assign[vid] == cid]
            dim = len(members[0])
            m = []
            for p in range(dim):
                s = 0.0
                for mem in members:
                    s += mem[p]
                m.append(crafted.r(s / len(members), 6))  # dround(avg, 6)
            if _sqsum(m) > 0:  # zero-direction centroid defined out
                new[cid] = _unitize(m) if renormalize else m
        cents = new
    return {vid: _best(u, cents) for vid, u in unit.items()}, cents


# --- the searched fixture ---------------------------------------------------

_FIX_SEED = 4  # deterministic search result: both convention errors fire
_N, _DIM = 96, 8
_BASES = [
    [1.0, 0.25, 0.0, 0.0, -0.5, 0.0, 0.125, 0.0],
    [0.0, 1.0, 0.5, 0.0, 0.25, 0.0, 0.0, -0.125],
    [-0.25, 0.0, 1.0, 0.5, 0.0, 0.125, 0.0, 0.0],
    [0.0, -0.5, 0.0, 1.0, 0.0, 0.25, 0.125, 0.0],
]


def _gen_vecs() -> dict[int, list[float]]:
    """Four dyadic base directions + md5 perturbations in multiples of
    1/256: every coordinate is float32-exact, so the parquet round trip
    through ``array<float>`` loses nothing and the Python recompute sees
    bit-identical inputs. Zero-padded to the index dimension (r11
    dimension law): appended zeros change no norm, dot product, mean, or
    assignment, so every hand number below stands."""
    vecs = {}
    for vid in range(_N):
        b = _BASES[vid % 4]
        h = hashlib.md5(f"{_FIX_SEED}:{vid}".encode()).digest()
        pert = [((h[i] % 33) - 16) / 256.0 for i in range(_DIM)]
        vecs[vid] = [b[i] + pert[i] for i in range(_DIM)] + [0.0] * (64 - _DIM)
    return vecs


def test_fixture_distinguishes_the_conventions():
    """Sharpness proof, no Spark needed: a seed-order error or a skipped
    renormalization each move a nonempty set of final assignments on this
    fixture — so the engine-vs-third-engine equality below is probative."""
    vecs = _gen_vecs()
    a_true, c_true = _ivf_third_engine(vecs)
    a_seed, _ = _ivf_third_engine(vecs, seed_by_md5=False)
    a_nore, _ = _ivf_third_engine(vecs, renormalize=False)
    n_seed = sum(1 for k in a_true if a_true[k] != a_seed[k])
    n_nore = sum(1 for k in a_true if a_true[k] != a_nore[k])
    assert n_seed == 94 and n_nore == 27, (n_seed, n_nore)
    assert len(c_true) == IVF_K  # no centroid collapsed on this fixture


def test_ivf_quantizer_matches_third_engine_exactly(spark, tmp_path):
    """The engine's centroid relation and corpus assignment, compared to
    the pure-Python recompute EXACTLY: centroid doubles bit-equal (the
    6dp mean rounding happens before any order-sensitive arithmetic) and
    the assignment map identical on all 96 vectors."""
    vecs = _gen_vecs()
    rows = [(vid, [float(x) for x in v], vid % 4) for vid, v in vecs.items()]
    (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "embeddings.parquet"))
    )

    unit = _unit_vectors(spark, str(tmp_path))
    cent = _ivf_centroids(unit)
    got_cent = {r["cent_id"]: list(r["cu"]) for r in cent.collect()}
    got_assign = {
        r["vec_id"]: r["cent_id"] for r in _assign_best(unit, cent).collect()
    }

    want_assign, want_cent = _ivf_third_engine(vecs)
    assert got_cent == want_cent  # bit-exact doubles, all IVF_K centroids
    assert got_assign == want_assign
