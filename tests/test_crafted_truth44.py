"""Forty-fourth batch — r13 freshness primes, hand-walked (the
hand-truth-first pattern: write the truth BEFORE the window re-cert).

wordcount_top20: the k=20 cut line under tie determinism (T4) — 21
singleton words tie at cnt=1 behind two clear leaders, so the word-asc
tiebreak alone decides which three fall off the cut.

wordcount_strict_top20 (rows-only†, third-engine pin): the strict
reference tokenizer ``(?U)\\b[a-z]+\\b`` diverges from the loose
``[a-z]+`` twin exactly where a letter run abuts another WORD character
that is not [a-z]: digits (``abc123def`` yields NO token — there is no
word boundary between ``c`` and ``1``), underscores (``x_y`` yields
none), and Unicode letters (``straße``/``café`` yield none under
Unicode \\b, where the loose twin happily emits ``stra``/``e``/``caf``).
Apostrophes are NON-word, so ``don't`` gives ``don`` + ``t`` on both.
The hand truth is asserted AND re-derived with Python re (the pin's
third engine) so a hand-derivation slip fails loudly.
"""

from __future__ import annotations

import re


import crafted
from mapreduce_docker_spark.operators.wordcount_queries import (
    q_wordcount_strict_top20,
    q_wordcount_top20,
)
from mapreduce_docker_spark.registry import all_specs


_NATO = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
)


def test_wordcount_top20_tie_cut_line_hand_truth(spark, tmp_path):
    """Corpus: 'the' x3 and 'zebra' x2 (mixed case — P1 lowercase), plus 21
    singleton NATO words. Top-20 = the(3), zebra(2), then exactly the 18
    alphabetically-first singletons; sierra/tango/uniform fall off the cut
    on the word-asc tiebreak alone."""
    docs = [
        (1, "The the THE zebra Zebra", "en", "s", 23),
        (2, _NATO, "en", "s", 140),
        (3, None, None, "s", None),
        (4, "", "en", "s", 0),
    ]
    crafted.write(spark, tmp_path, "documents", docs,
                  "doc_id long, text string, lang string, source string, length int")
    singles = sorted(_NATO.split())[:18]
    want = [("the", 3), ("zebra", 2)] + [(w, 1) for w in singles]
    got = [tuple(r) for r in q_wordcount_top20(spark, str(tmp_path)).collect()]
    assert got == want
    spec = all_specs()["wordcount_top20"]
    assert crafted.oracle(tmp_path, ("documents",), spec.sql) == want


def test_wordcount_strict_top20_boundary_grid_hand_truth(spark, tmp_path):
    """Strict-\\b grid: digits/underscore/Unicode-adjacent runs drop out,
    apostrophe splits. Hand counts: t:2 (from don't + can't), zz:2,
    can/don/naive:1 — tie at 2 broken t < zz. Re-derived with Python re
    (the pin's third engine) over the same corpus."""
    texts = [
        "abc123def x_y zz zz",
        "don't can't straße café naive",
        None,
        "",
    ]
    docs = [
        (i, t, "en", "s", len(t) if t else None) for i, t in enumerate(texts, start=1)
    ]
    crafted.write(spark, tmp_path, "documents", docs,
                  "doc_id long, text string, lang string, source string, length int")
    want = [("t", 2), ("zz", 2), ("can", 1), ("don", 1), ("naive", 1)]
    got = [
        tuple(r) for r in q_wordcount_strict_top20(spark, str(tmp_path)).collect()
    ]
    assert got == want
    # third-engine recompute (the rows-only pin's reference semantics)
    counts: dict[str, int] = {}
    for t in texts:
        if t:
            for w in re.findall(r"\b[a-z]+\b", t.lower(), re.UNICODE):
                counts[w] = counts.get(w, 0) + 1
    ref = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert ref == want
    # and the LOOSE twin diverges exactly where the law says: digit/
    # underscore/Unicode-adjacent runs come back, apostrophe halves stay
    loose = {}
    for t in texts:
        if t:
            for w in re.findall(r"[a-z]+", t.lower()):
                loose[w] = loose.get(w, 0) + 1
    assert {w for w in loose} - {w for w, _ in want} == {
        "abc", "def", "x", "y", "stra", "e", "caf",
    }
