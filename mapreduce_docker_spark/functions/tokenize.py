"""Tokenizers: the engine-standard word splitter + bit-exact reference parity.

The reference tokenizes by lowercasing the chunk then taking
``re.findall(r"\\b[a-z]+\\b", text)`` (reference worker.py:6,13). On text
where letter runs border only punctuation/whitespace, that equals "maximal
runs of ``[a-z]``". The boundary assertions DO matter in two corners
(SURVEY.md §7 hard part 1): Python's ``\\b`` is Unicode-aware, so a run of
``[a-z]`` adjacent to a digit, underscore, or non-ASCII word character has
no boundary there and the reference emits NO token ("abc42" -> nothing,
"café" -> nothing), whereas a maximal-run extraction emits "abc"/"caf".

Two tokenizers, one per need:

* :func:`tokens` — maximal ``[a-z]+`` runs. The engine standard: identical
  semantics in Spark (Java regex) and DuckDB (RE2), hence every DuckDB
  value-hash oracle uses it. RE2 has no lookaround and no Unicode word
  boundary, so the strict semantics below cannot be oracle-checked.
* :func:`tokens_strict` — bit-exact Python ``re`` parity via Java's
  ``(?U)`` flag (UNICODE_CHARACTER_CLASS makes ``\\b`` match Python's).
  Registered as a rows-only query; pinned against ``re.findall`` in tests.

Correctness notes (SURVEY.md §2 P2/P3):
* ``split``-based tokenization emits empty strings at boundaries and is NOT
  used;
* ``explode`` (not ``explode_outer``) drops rows whose text has no tokens,
  matching ``findall`` returning ``[]``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# maximal ASCII-letter runs over lowercased text (engine standard)
WORD_PATTERN = "[a-z]+"
# DuckDB spelling of tokens() over a ``text`` column, for oracle SQL (RE2 has
# the same maximal-run semantics; see fold() for the casing law)
SQL_TOKENS = f"regexp_extract_all(lower(text), '{WORD_PATTERN}')"
# bit-exact reference parity: Unicode-aware word boundaries like Python re
STRICT_PATTERN = r"(?U)\b[a-z]+\b"

# Simple-casing fold law (r14 band-6 differential find, seed 615;
# SCALING.md "Simple-casing fold"): FULL lowercase, as Spark's lower()
# computes it with the JDK 17 mapper (Unicode 13.0; the engine turns ICU
# case mapping off, SCALING.md "Case mapper") and as Python str.lower
# does, differs from DuckDB 1.0.0's utf8proc and RE2 SIMPLE
# (per-codepoint) lowercase on exactly two non-locale code points —
# İ U+0130, Unicode's only EXPANDING lowercase
# (Java: 'i' + combining dot U+0307, which then SPLITS an [a-z]+ token
# run: 'İstanbul' -> ['i','stanbul']), and Σ U+03A3, the only
# CONTEXT-SENSITIVE one (Java: final sigma ς word-finally; utf8proc: σ
# everywhere). The ENGINE-STANDARD fold pre-reduces both to their simple
# mappings before lower(), so Spark computes byte-identical folds to the
# native lower() every DuckDB oracle already uses. tokens_strict is
# deliberately EXEMPT: its contract is bit-exact Python-reference parity
# (Python str.lower is full casing too) and it is rows-only by contract.
_SIMPLE_CASE_SRC = "İΣ"
_SIMPLE_CASE_DST = "iσ"
_PY_SIMPLE_CASE = str.maketrans({0x0130: "i", 0x03A3: "σ"})


def fold(col: Column | str) -> Column:
    """Engine-standard case fold: simple-casing lower() (law above).

    Equal to ``lower(translate(c, 'İΣ', 'iσ'))`` on every input, but
    ``translate`` decodes and re-encodes each row, so it only runs on rows
    that need it. A valid UTF-8 row holds the byte pairs of İ and Σ only
    as those code points, and a Java round trip leaves it unchanged, so a
    valid row without either pair folds as plain ``lower(c)``; the guard
    is three allocation-free byte scans. Invalid rows keep ``translate``:
    its decode and ``lower``'s can replace malformed bytes differently
    (an encoded surrogate), and ``instr`` steps by lead byte, so it can
    miss an İ after a stray lead byte; ``contains`` scans every offset.
    """
    c = F.col(col) if isinstance(col, str) else col
    plain = F.is_valid_utf8(c) & ~c.contains("İ") & ~c.contains("Σ")
    return F.lower(
        F.when(plain, c).otherwise(F.translate(c, _SIMPLE_CASE_SRC, _SIMPLE_CASE_DST))
    )


def py_fold(text: str) -> str:
    """Python-side twin of :func:`fold` for the RDD/UDTF word-count lanes
    (Python ``str.lower`` is full casing, same as Java's)."""
    return text.translate(_PY_SIMPLE_CASE).lower()


def tokens(col: Column | str) -> Column:
    """array<string> of engine-standard word tokens for a text column."""
    return F.regexp_extract_all(fold(col), F.lit(WORD_PATTERN), 0)


def tokens_strict(col: Column | str) -> Column:
    """array<string> matching reference ``re.findall(r'\\b[a-z]+\\b', ...)`` exactly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(STRICT_PATTERN), 0)


def word_rows(col: Column | str) -> Column:
    """One token per row (use under ``select``): ``explode(tokens(col))``."""
    return F.explode(tokens(col))


# GPT-2-style pre-tokenizer, lookahead-free so Java regex (Spark) and RE2
# (DuckDB) match identically — the upstream GPT-2 pattern's trailing
# `\s+(?!\S)` branch needs negative lookahead, which RE2 lacks; dropping it
# only changes how runs of INTER-token whitespace are grouped (they are
# counted as whitespace pieces either way). Verified piece-for-piece
# identical across both engines on letters, digits, punctuation,
# contractions, and non-ASCII (tests/test_tokenize_properties.py).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_pieces(col: Column | str) -> Column:
    """array<string> of GPT-style pre-tokenizer pieces (case-preserving,
    space-prefixed words — the unit a BPE vocabulary is trained over)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)
