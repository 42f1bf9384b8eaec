"""Property-based tokenizer fidelity (hypothesis).

The strict tokenizer must equal Python ``re.findall(r"\\b[a-z]+\\b", s.lower())``
on ARBITRARY text, and the engine-standard tokenizer must equal maximal
``[a-z]+`` runs — the two reference-semantics pins of SURVEY §2 P2/P3, checked
over generated adversarial strings instead of hand-picked cases.

One Spark job per hypothesis case would be minutes of overhead; instead all
generated cases batch into a single DataFrame per property.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from mapreduce_docker_spark.functions.tokenize import tokens, tokens_strict

# letters around the ASCII range, digits, underscores, punctuation, accents,
# CJK, emoji, control chars — everything that stresses \b and [a-z] edges
_ALPHABET = st.sampled_from(
    list("abcXYZ019_ .,-!\t\n'\"") + ["é", "ß", "ñ", "中", "🎉", " ", "`"]
)
_TEXT = st.lists(_ALPHABET, min_size=0, max_size=40).map("".join)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_tokenizer_properties(spark, data):
    # draw one batch of 300 strings; a single Spark job checks them all
    cases = data.draw(st.lists(_TEXT, min_size=300, max_size=300))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "id int, text string"
    )
    got = {
        r["id"]: (list(r["std"]), list(r["strict"]))
        for r in df.select(
            "id", tokens("text").alias("std"), tokens_strict("text").alias("strict")
        ).collect()
    }
    for i, s in enumerate(cases):
        low = s.lower()
        assert got[i][0] == re.findall(r"[a-z]+", low), repr(s)
        assert got[i][1] == re.findall(r"\b[a-z]+\b", low), repr(s)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_bpe_pieces_cross_engine_parity(spark, data):
    """The BPE-ish pre-tokenizer must extract IDENTICAL pieces in Spark
    (Java regex) and DuckDB (RE2) on adversarial text — the lookahead-free
    pattern is chosen precisely for this, and every piece must concatenate
    back to the original string (the pattern tiles its input: letters,
    digits, punctuation, and whitespace branches are exhaustive)."""
    import duckdb

    from mapreduce_docker_spark.functions.tokenize import BPE_PATTERN, bpe_pieces

    cases = data.draw(st.lists(_TEXT, min_size=200, max_size=200))
    cases += ["it's 42 degrees!", "don't stop", "a1b2, (c)", "  pad  "]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "id int, text string"
    )
    got = {
        r["id"]: list(r["p"])
        for r in df.select("id", bpe_pieces("text").alias("p")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(cases):
        duck = con.execute(
            "SELECT regexp_extract_all(?, ?)", [s, BPE_PATTERN]
        ).fetchone()[0]
        assert got[i] == duck, repr(s)
        assert "".join(got[i]) == s, repr(s)  # pieces tile the input exactly


def test_fold_guard_matches_translate_fold(spark):
    """fold() skips translate() on rows it cannot change; the result must
    stay byte-identical to lower(translate(c, 'İΣ', 'iσ')) on every row,
    compared as hex so a U+FFFD substitution cannot hide. Rows are built
    from raw bytes (binary cast to string) to reach invalid UTF-8. The
    last three cases break weaker guards: an İ after a stray lead byte is
    invisible to instr(), and an encoded surrogate or overlong form is
    replaced differently by translate()'s decode than by lower()'s."""
    from pyspark.sql import functions as F

    from mapreduce_docker_spark.functions.tokenize import fold

    cases = [
        "İstanbul".encode(), "ΑΣ".encode(), "İΣ".encode(), "ΣİΣ".encode(),
        "İabc".encode(), "abcİ".encode(), "Σabc".encode(), "abcΣ".encode(),
        b"ab\xffcd", b"\xc4", b"ABC\xe2\x82", None, b"", b"HELLO, world",
        "ΑΣ İİ ǅ ẞ".encode(),
        b"\xe2\xc4\xb0", b"\xed\xa0\x80AB", b"\xc0\xafZ",
    ]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(cases)], "id int, b binary")
    c = F.col("b").cast("string")
    got = df.select(
        "id",
        F.hex(fold(c)).alias("fold"),
        F.hex(F.lower(F.translate(c, "İΣ", "iσ"))).alias("ref"),
    ).collect()
    assert len(got) == len(cases)
    for r in got:
        assert r["fold"] == r["ref"], repr(cases[r["id"]])
