"""Forty-seventh batch — the NULL-key law of the near-dup survivor sets.

``dedup_minhash_survivors``, ``streaming_incremental_minhash_dedup`` and
``text_curation_pipeline`` keep the documents that are not the larger id
of a verified near-dup pair. SQL ``NOT IN`` drops a NULL ``doc_id`` only
when some document was dropped, while an anti join always keeps it, so
both engines now exclude a NULL ``doc_id`` explicitly. The fixture walks
both branches: ids 1, 2 and NULL with 1 and 2 identical (2 is dropped),
and the same ids with three unrelated texts (nothing is dropped).
"""

from __future__ import annotations

import pytest

import crafted
from mapreduce_docker_spark.registry import all_specs

T = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)
U = (
    "umbrella violin whiskey xylophone yankee zulu amber basil cedar dune "
    "ember fjord grove heath iris jade kelp lotus moss nectar"
)
V = (
    "orbit pebble quartz raven saddle timber urchin velvet walnut yarrow "
    "zephyr anchor beacon canyon drift falcon glacier harbor island jungle"
)

CASES = {
    "one_dropped": ([(1, T, "en"), (2, T, "en"), (None, V, "en")], [1]),
    "none_dropped": ([(1, T, "en"), (2, U, "en"), (None, V, "en")], [1, 2]),
}

# 20 distinct non-stopword tokens: quality 0.3 + 0.4 + 0.3 * 0.2, top 1/20
CURATED = {1: (1, "en", 20, 0.76, 0.05), 2: (2, "en", 20, 0.76, 0.05)}


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_survivors",
        "streaming_incremental_minhash_dedup",
        "text_curation_pipeline",
    ],
)
def test_null_doc_id_is_excluded_on_both_engines(spark, tmp_path, name, case):
    rows, kept = CASES[case]
    crafted.write(
        spark, tmp_path, "documents", rows, "doc_id long, text string, lang string"
    )
    spec = all_specs()[name]
    want = [CURATED[i] if name == "text_curation_pipeline" else (i,) for i in kept]
    # repr orders a NULL doc_id too, so a kept NULL row shows in the diff
    got = sorted((tuple(r) for r in spec.fn(spark, str(tmp_path)).collect()), key=repr)
    assert got == want
    assert sorted(crafted.oracle(tmp_path, ["documents"], spec.sql), key=repr) == want
