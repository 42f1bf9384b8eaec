"""Forty-first batch — PII-scrub regex boundaries, hand-walked.

``text_pii_scrub`` runs the same two patterns through two regex
ENGINES: Spark's java.util.regex (backtracking) and DuckDB's RE2
(automata). The patterns live in the dialects' common subset, but the
places where backtracking SEMANTICS could diverge are exactly the
boundary cases a random word-pool fixture never produces — each is
walked by hand here:

* greedy-domain backtrack: in 'user@x.com123456789' the domain class
  [a-z0-9.-]+ initially swallows the digits, and BOTH engines must
  back off to 'user@x.com' (leaving the digit run for the <NUM> pass);
* multi-label domain: 'user.name+tag@sub.example.org' is ONE match —
  the domain backs off only to the last '.tld';
* the 6-digit floor: '12345' survives, '123456' and a 13-digit run
  redact;
* double-count contract: '123456@mail.com' scrubs to ONE '<EMAIL>'
  (the email pass consumes the digits) but n_redactions = 2, because
  the counts run over the ORIGINAL text for both patterns — the
  documented over-count, pinned so it cannot silently change;
* lower() applies before matching (uppercase addresses redact);
* NULL text -> NULL/NULL; empty text -> ''/0.
"""

from __future__ import annotations


import crafted
from mapreduce_docker_spark.operators.textanalysis_queries import text_pii_scrub
from mapreduce_docker_spark.registry import all_specs


def test_pii_scrub_regex_boundaries_both_engines(spark, tmp_path):
    crafted.write(
        spark, tmp_path, "documents",
        [
            (1, "contact user@x.com123456789 now"),
            (2, "ids 12345 and 123456 and 1234567890123"),
            (3, "123456@mail.com"),
            (4, "Write USER.NAME+tag@SUB.EXAMPLE.ORG ok"),
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    want = sorted(
        [
            (1, "contact <EMAIL><NUM> now", 2),
            (2, "ids 12345 and <NUM> and <NUM>", 2),
            (3, "<EMAIL>", 2),
            (4, "write <EMAIL> ok", 1),
            (5, None, None),
            (6, "", 0),
        ],
        key=str,
    )
    got = sorted(
        (tuple(r) for r in text_pii_scrub(spark, str(tmp_path)).collect()), key=str
    )
    assert got == want
    assert sorted(
        crafted.oracle(tmp_path, ("documents",), all_specs()["text_pii_scrub"].sql), key=str
    ) == want
