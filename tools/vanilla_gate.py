"""Driver-replica correctness gate on a VANILLA SparkSession.

The per-round driver builds its own bare ``SparkSession`` (no engine
defaults from ``session.get_spark``), so any query that silently depends on
a builder-time conf breaks there and nowhere else — exactly what happened
in round 1 with ``spark.sql.legacy.parquet.nanosAsLong`` (VERDICT.md item
1). This script reproduces the driver harness: a bare session, DuckDB
views over the same parquet, full value-level compare for every
oracle-carrying query (``mapreduce_docker_spark.oracle.diff``, the
suite's comparator), execution + schema check for rows-only ones.

Usage::

    python tools/vanilla_gate.py [sf_dir]

Exits 0 iff every checked query matches. Run from pytest via
tests/test_vanilla_session.py (subprocess — a JVM session is
process-global, so in-process the engine's conftest session would leak
its confs into the "vanilla" one).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    # deliberately NO engine defaults — this is the whole point
    spark = (
        SparkSession.builder.master("local[8]").appName("vanilla-gate").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mapreduce_docker_spark import oracle
    from mapreduce_docker_spark.registry import all_specs
    from mapreduce_docker_spark.sources.catalog import TABLES

    duck = oracle.connect(sf_dir, TABLES)
    specs = all_specs()
    failures: dict[str, str] = {}
    n_oracle = n_rows_only = 0
    for name, spec in specs.items():
        try:
            sdf = spec.fn(spark, sf_dir)
            if spec.sql is None:
                n_rows_only += 1
                assert sdf.columns, "empty schema"
                assert sdf.count() >= 0
                continue
            n_oracle += 1
            ores = duck.execute(spec.sql)
            mismatch = oracle.diff(
                sdf.columns,
                sdf.collect(),
                [d[0] for d in ores.description],
                ores.fetchall(),
            )
            assert mismatch is None, mismatch
        except Exception as e:  # noqa: BLE001 - gate must report, not crash
            failures[name] = f"{type(e).__name__}: {e}"[:500]

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "checked": len(specs),
                "oracle": n_oracle,
                "rows_only": n_rows_only,
                "failures": failures,
            }
        )
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
