"""The config stamp bench.py records beside its numbers must describe the
session the numbers came from: a record taken on another core count has to
be recognisable as such from the summary alone. A ladder point the host
cannot hold is recorded as skipped, with its reason."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_config_stamp_describes_the_session(spark):
    stamp = bench._config_stamp(spark, 0.01)
    assert stamp["defaultParallelism"] == spark.sparkContext.defaultParallelism
    assert stamp["spark.sql.shuffle.partitions"] == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert stamp["spark_version"] == spark.version
    assert stamp["sf"] == 0.01
    assert set(stamp) == {
        "defaultParallelism",
        "spark.sql.shuffle.partitions",
        "spark_version",
        "sf",
        "git_rev",
    }


def test_x64_pagerank_is_skipped_below_its_heap():
    # the x64 point needs ~24g of live heap; a smaller JVM dies in it
    for heap in ("1g", "9g", "23g"):
        assert "24g" in bench._x64_skip_reason(heap)
    for heap in ("24g", "48g"):
        assert bench._x64_skip_reason(heap) is None
