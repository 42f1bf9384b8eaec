"""Plain-text corpus source + sinks (reference parity).

The reference ingests a directory of text files as UTF-8 lines batched into
~50 MB line-aligned chunks (reference coordinator.py:42-60) and sinks results
as a tab-separated file plus a formatted top-k console print
(coordinator.py:123-134). Spark equivalents:

* ``spark.read.text(dir)`` — built-in FileIndex globbing replaces the
  ``sorted(glob.glob(...))`` scan (coordinator.py:42); line records are the
  default; ``spark.sql.files.maxPartitionBytes=50m`` (session.py) reproduces
  the chunk granularity as input splits;
* decode errors: Spark's text source replaces invalid UTF-8 rather than
  dropping it (reference ignores errors, coordinator.py:49) — for pure-ASCII
  tokenization downstream (``[a-z]+``) the two are indistinguishable;
* TSV sink: ``word\\tcount`` frequency-descending (coordinator.py:131-134),
  one part file. The frame is written as it is partitioned, so the ranked
  sort and the CSV encoding run on every core, and the driver then
  concatenates the part files in partition order through the Hadoop
  ``FileSystem`` API. ``coalesce(1)`` would pull the whole post-exchange
  sort into one task; the concatenation is byte-identical to it, since
  ``coalesce(1)`` also reads its parent partitions in index order.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# Spark's data file names: part-<partition index>-<job uuid>-c<file counter>
_PART_FILE = re.compile(r"part-(\d+)-.*-c(\d+)")


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of plain-text files -> DataFrame[value: string] (one row per line)."""
    return spark.read.text(path)


def write_tsv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Write a two-column (or n-column) result as a headerless TSV.

    ``single_file=True`` mirrors the reference's one-file sink
    (coordinator.py:131-134): every partition is written in parallel, then
    the part files are concatenated in partition order into one, which is
    exactly the file ``df.coalesce(1)`` would write (an empty frame leaves
    one empty part file). At 100 TB scale pass ``False`` so the reduce
    partitions' files are left as they are.
    """
    df.write.mode("overwrite").option("sep", "\t").csv(path)
    if single_file:
        _concat_parts(df.sparkSession, path)


def _concat_parts(spark: SparkSession, path: str) -> None:
    """Replace the part files under ``path`` by their concatenation, in
    (partition index, file counter) order, under the first part's name.
    Runs on the driver JVM, so no bytes cross into Python and any Hadoop
    file system works."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    out = Path(path)
    fs = out.getFileSystem(conf)
    parts = []
    for status in fs.listStatus(out):
        m = _PART_FILE.match(status.getPath().getName())
        if m:
            parts.append((tuple(map(int, m.groups())), status.getPath()))
    if len(parts) < 2:
        return
    parts.sort(key=lambda part: part[0])
    tmp = Path(out, "_concat.tmp")
    sink = fs.create(tmp, True)
    try:
        for _, part in parts:
            src = fs.open(part)
            try:
                jvm.org.apache.hadoop.io.IOUtils.copyBytes(src, sink, conf, False)
            finally:
                src.close()
    finally:
        sink.close()
    for _, part in parts:
        fs.delete(part, False)
    if not fs.rename(tmp, parts[0][1]):
        raise OSError(f"could not rename {tmp} to {parts[0][1]}")


def show_topk(df: DataFrame, k: int = 20) -> None:
    """Formatted top-k console sink (reference coordinator.py:123-129)."""
    df.show(k, truncate=False)


def format_topk(rows, k: int = 20) -> str:
    """Reference-style console rendering of ranked (word, count) rows.

    Spec per SURVEY.md §2 S6 (reference coordinator.py:123-129): one line
    per rank, word column width-aligned to the longest word shown,
    thousands separators on counts. Presentation-layer only — the engine
    result is the DataFrame; this renders a small collected head.
    """
    head = rows[:k]
    if not head:
        return "(empty)"
    width = max(len(w) for w, _ in head)
    return "\n".join(
        f"{i + 1:>4}. {w:<{width}}  {c:>15,}" for i, (w, c) in enumerate(head)
    )
