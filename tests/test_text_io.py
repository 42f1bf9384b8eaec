"""End-to-end reference text flow: corpus dir -> word counts -> TSV sink.

The complete production behavior of the reference system (download/glob ->
chunked scan -> map/combine/merge -> full sort -> TSV; coordinator.py:42-134)
as one engine flow over real files, with the fox/dog golden from the
reference's own test fixture (test_mapreduce.py:47-50).
"""

from __future__ import annotations

import csv
import glob
import os

from mapreduce_docker_spark.operators import wordcount as wc
from mapreduce_docker_spark.sources.text import format_topk, read_text_corpus, write_tsv


def test_corpus_to_tsv_reference_flow(spark, tmp_path):
    src = tmp_path / "txt"
    os.makedirs(src)
    (src / "a.txt").write_text("The quick brown fox jumps over the lazy dog.\n")
    (src / "b.txt").write_text("The dog was really lazy, but the fox was quick!\n")

    lines = read_text_corpus(spark, str(src))
    ranked = wc.ranked(wc.word_counts(lines, "value"))
    out = str(tmp_path / "word_counts_tsv")
    write_tsv(ranked, out)

    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 1, "single_file=True must produce one part file"
    with open(parts[0]) as fh:
        rows = [(w, int(c)) for w, c in csv.reader(fh, delimiter="\t")]

    assert rows[0] == ("the", 4)
    assert dict(rows) == {
        "the": 4, "lazy": 2, "quick": 2, "fox": 2, "dog": 2, "was": 2,
        "brown": 1, "jumps": 1, "over": 1, "really": 1, "but": 1,
    }
    # frequency-descending with word-asc tiebreak, all the way down
    keys = [(-c, w) for w, c in rows]
    assert keys == sorted(keys)
    # console sink renders the same head
    text = format_topk(rows, k=3)
    assert text.splitlines()[0].startswith("   1. the")


def _part_files(path):
    return sorted(glob.glob(os.path.join(path, "part-*")))


def _ranked_frame(spark, words=997, rows=3000):
    """A ranked (cnt desc, word asc) frame with many ties and partitions."""
    from pyspark.sql import functions as F

    counts = spark.range(rows).select(
        F.concat(F.lit("w"), (F.col("id") % words).cast("string")).alias("word"),
        (F.col("id") % 13).alias("cnt"),
    )
    return wc.ranked(counts)


def test_single_file_sink_equals_coalesce_one_bytes(spark, tmp_path):
    """The concatenated part file is byte-identical to what coalesce(1)
    writes, on a frame written as 16 range partitions: the parts must be
    joined in partition order, not listing order."""
    confs = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        ranked = _ranked_frame(spark)
        write_tsv(ranked, str(tmp_path / "parts"), single_file=False)
        assert len(_part_files(str(tmp_path / "parts"))) >= 12
        write_tsv(ranked, str(tmp_path / "one"))
        ranked.coalesce(1).write.mode("overwrite").option("sep", "\t").csv(
            str(tmp_path / "old")
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    [new], [old] = _part_files(str(tmp_path / "one")), _part_files(str(tmp_path / "old"))
    with open(new, "rb") as a, open(old, "rb") as b:
        data = a.read()
        assert data == b.read()
    assert data.count(b"\n") == 3000


def test_single_file_sink_empty_frame_leaves_one_empty_part(spark, tmp_path):
    out = str(tmp_path / "empty")
    write_tsv(_ranked_frame(spark).where("cnt < 0"), out)
    parts = _part_files(out)
    assert len(parts) == 1
    assert os.path.getsize(parts[0]) == 0


def test_single_file_sink_overwrites(spark, tmp_path):
    out = str(tmp_path / "tsv")
    write_tsv(_ranked_frame(spark, words=50), out)
    write_tsv(_ranked_frame(spark, words=7, rows=7), out)
    [part] = _part_files(out)
    with open(part) as fh:
        rows = list(csv.reader(fh, delimiter="\t"))
    assert sorted(w for w, _ in rows) == [f"w{i}" for i in range(7)]


def test_ranked_sink_sorts_on_every_partition(spark, tmp_path):
    """The write's executed plan keeps the range-partitioned Sort under the
    file writer: no Coalesce 1 folds the sort into a single task."""
    out = str(tmp_path / "tsv")
    write_tsv(_ranked_frame(spark), out)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    newest_first = (
        executions.apply(i).physicalPlanDescription()
        for i in reversed(range(executions.size()))
    )
    plan = next(p for p in newest_first if "InsertIntoHadoopFsRelationCommand" in p and out in p)
    # the formatted plan's operator tree ends where the numbered node
    # details begin
    tree = plan.split("\n(1) ")[0]
    assert "Sort (" in tree
    assert "Coalesce (" not in tree
