"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files, another seed gives different ones. The engine only
ever sees the files these functions write.

* :func:`write_corpus` — plain-text corpus of Zipf draws over a synthetic
  vocabulary of about a million words, with the exact per-word counts the
  word count must reproduce.
* :func:`write_tables` — the ten catalog tables (star schema, ``events``,
  ``documents``, ``embeddings``) as parquet, with the column types
  FIXTURES.md documents (``ts`` in nanoseconds, the date columns in
  milliseconds) and the key relations and value distributions of the
  fixture tables it describes.
"""

from __future__ import annotations

import os

import numpy as np

VOCAB = 1_000_000
WORDS_PER_LINE = 12
_CHUNK_TOKENS = 1 << 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts another one's draws."""
    return np.random.default_rng([seed, *stream.encode()])


def vocabulary(seed: int, size: int = VOCAB) -> np.ndarray:
    """``size`` distinct lowercase ASCII words (``[a-z]{2,12}``), seeded,
    as a fixed-width bytes array."""
    rng = _rng(seed, "vocab")
    n = size + size // 4  # short words collide; oversample, then dedupe
    letters = rng.integers(97, 123, (n, 12), dtype=np.uint8)
    letters[np.arange(12) >= rng.integers(2, 13, n)[:, None]] = 0
    words = np.unique(letters.view("S12").ravel())
    if len(words) < size:
        raise ValueError(f"vocabulary too small: {len(words)} < {size}")
    return rng.permutation(words)[:size]


def write_corpus(dst: str, seed: int, total_bytes: int, files: int, vocab_size: int = VOCAB):
    """Write ``files`` text files totalling about ``total_bytes``.

    Returns ``(vocab, counts)``: ``counts[i]`` is the exact number of times
    ``vocab[i]`` occurs in the corpus. Word ranks are drawn log-uniformly,
    i.e. Zipf with exponent 1. Words are separated by one space, every
    ``WORDS_PER_LINE``-th by a newline, so tokenizing under the reference
    semantics (lowercase, then ``\\b[a-z]+\\b``) yields exactly the drawn
    words.
    """
    vocab = vocabulary(seed, vocab_size)
    v = len(vocab)
    # each word twice: with its space and with its line end, so one join
    # over the drawn ids writes the text
    spelled = np.concatenate([np.char.add(vocab, b" "), np.char.add(vocab, b"\n")])
    lens = np.char.str_len(spelled).astype(np.int64)
    rng = _rng(seed, "draws")
    counts = np.zeros(v, np.int64)
    os.makedirs(dst, exist_ok=True)
    per_file = total_bytes // files
    for f in range(files):
        written = 0
        with open(os.path.join(dst, f"part-{f:03d}.txt"), "wb") as out:
            while written < per_file:
                ids = (np.exp(rng.random(_CHUNK_TOKENS) * np.log(v)) - 1).astype(np.int64)
                ids[WORDS_PER_LINE - 1 :: WORDS_PER_LINE] += v
                keep = int(np.searchsorted(np.cumsum(lens[ids]), per_file - written)) + 1
                ids = ids[:keep]
                ids[-1] = ids[-1] % v + v  # end on a line end
                out.write(b"".join(spelled[ids].tolist()))
                written += int(lens[ids].sum())
                counts += np.bincount(ids % v, minlength=v)
    return vocab, counts


def expected_tsv(vocab: np.ndarray, counts: np.ndarray) -> bytes:
    """The ranked sink's exact bytes: ``word\\tcount`` lines, count
    descending, word ascending among ties."""
    present = np.nonzero(counts)[0]
    words = vocab[present]
    order = np.lexsort((words, -counts[present]))
    return b"".join(
        w + b"\t" + str(c).encode() + b"\n"
        for w, c in zip(words[order].tolist(), counts[present][order].tolist())
    )


# --------------------------------------------------------------------------
# catalog tables

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
ADJECTIVES = ["red", "blue", "green", "hot", "cold", "old", "large", "small"]
NOUNS = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
DOC_WORDS = (
    "a the batch sort value hash filter big data dup spark line small fast "
    "group customer query row stream part column order scan slow agg key "
    "window table merge vector join"
).split()
EMB_DIM = 64

_DAY_MS = 86_400_000
_DAY_NS = _DAY_MS * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024_NS = 19723 * _DAY_NS


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, pool, n):
    return np.array(pool, dtype=object)[rng.integers(0, len(pool), n)]


def _day_ts(days):
    """Midnight timestamps in milliseconds, as the fixtures' date columns."""
    return (np.asarray(days, np.int64) * _DAY_MS).astype("datetime64[ms]")


def _documents(seed: int, base_docs: int, replicas: int):
    """``base_docs`` word-soup documents (some exact and near duplicates),
    then ``replicas`` copies, each copy's documents prefixed by a token
    salted with the seed so replicas stay distinct documents."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(base_docs):
        if i >= 10 and rng.random() < 0.05:  # near duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 96))
            texts.append(" ".join(_pick(rng, DOC_WORDS, n)))
    salt = _rng(seed, "salt")
    rows = []
    for r in range(replicas):
        tag = "".join(chr(97 + int(c)) for c in salt.integers(0, 26, 6))
        for i, t in enumerate(texts):
            rows.append((i * replicas + r, f"{tag} {t}" if r else t))
    rows.sort()
    ids = np.array([d for d, _ in rows], np.int64)
    text = np.array([t for _, t in rows], dtype=object)
    meta = _rng(seed, "doc_meta")
    return {
        "doc_id": ids,
        "text": text,
        "lang": _pick(meta, LANGS, len(ids)),
        "source": np.array([f"src{d % 20}" for d in ids], dtype=object),
        "n_chars": np.fromiter((len(t) for t in text), np.int64, len(text)),
    }


def tables(seed: int, sf: float, base_docs: int, replicas: int, vectors: int):
    """Column dicts for every catalog table; ``sf`` scales the star schema
    and ``events`` like the fixtures (lineitem ~= 6e6 * sf rows)."""
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": np.array(REGIONS, object)},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.array([f"NATION_{i}" for i in range(25)], object),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], object),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], object),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(
                [f"{a} {b}" for a, b in zip(_pick(rng, ADJECTIVES, n_part), _pick(rng, NOUNS, n_part))],
                object,
            ),
            "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], object),
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _day_ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _day_ts(_EPOCH_1995 + 1 + rng.integers(0, 2498, n_line)),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            # nanoseconds, sub-microsecond digits included, as the fixtures
            "ts": np.sort(_EPOCH_2024_NS + rng.integers(0, 30 * _DAY_NS, n_ev)).astype("datetime64[ns]"),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], object),
        },
        "documents": _documents(seed, base_docs, replicas),
    }
    vr = _rng(seed, "embeddings")
    labels = vr.integers(0, 10, vectors)
    centers = vr.normal(0, 1, (10, EMB_DIM))
    vecs = centers[labels] + vr.normal(0, 0.6, (vectors, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": [v for v in vecs.astype(np.float32)],
        "label": labels.astype(np.int32),
    }
    return out


def write_tables(dst: str, seed: int, sf: float, base_docs: int, replicas: int, vectors: int) -> dict:
    """Write every table as ``dst/<name>.parquet``; returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    rows = {}
    for name, cols in tables(seed, sf, base_docs, replicas, vectors).items():
        arrays = {}
        for col, vals in cols.items():
            if col == "embedding":
                arrays[col] = pa.array(vals, pa.list_(pa.float32()))
            elif isinstance(vals, np.ndarray) and vals.dtype == object:
                arrays[col] = pa.array(vals.tolist(), pa.string())
            else:
                arrays[col] = pa.array(vals)
        tbl = pa.table(arrays)
        pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
