"""SparkSession factory with engine defaults.

The reference system's hand-tuned execution knobs (reference
coordinator.py:11-12: ``CHUNK_BYTES = 50_000_000``, ``MAX_INFLIGHT = 8``) map
onto declarative Spark configuration here:

* ``spark.sql.files.maxPartitionBytes=50m`` mirrors the 50 MB chunk
  granularity of the reference's streaming scan (coordinator.py:47-60);
* backpressure / in-flight capping is the task scheduler's job — nothing to
  configure beyond parallelism;
* AQE is on for the 100 TB design point: runtime shuffle-partition coalescing
  and skew-join splitting replace any hand-sized reduce phase.

The runtime laws every engine session needs, whoever built it, are declared
once in ``sources/catalog.py:_RUNTIME_CONFS`` and copied into the builder
defaults here:

* ``spark.sql.session.timeZone=UTC`` pins timestamp semantics so results
  match the DuckDB oracle (naive UTC timestamps) bit-for-bit;
* ``spark.sql.legacy.parquet.nanosAsLong=true`` lets Spark scan the driver
  fixtures' ``events.parquet`` (TIMESTAMP(NANOS) physical type, which Spark
  has no native reader type for); the catalog layer converts ns -> µs on
  load, matching DuckDB's ns->µs truncation;
* ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`` keeps min/max
  statistics on written timestamps;
* ``spark.sql.icu.caseMappings.enabled=false`` makes ``lower()``/``upper()``
  use the JDK's case mapping instead of ICU's. The ICU mapper's first use
  in a JVM costs seconds of class loading and table initialization, even on
  ASCII rows, and every fresh session pays it on its first ``tokens()``;
  later calls cost the same on either mapper (both take the same ASCII fast
  path). It gives up nothing the engine uses: no difference between the
  mappers adds or removes an ASCII letter, so ``tokens()`` is unchanged,
  and on the code points where they differ (ICU 77 implements Unicode 16,
  the JDK 17 mapper Unicode 13) the JDK mapper agrees with the oracle's
  utf8proc (DuckDB 1.0.0), which also predates those letters.

One conf is static and lives only here:
``spark.python.sql.dataFrameDebugging.enabled=false``. With it on (Spark's
default), every ``pyspark.sql.functions`` and ``Column`` call walks the
Python stack to capture its call site and makes several py4j round trips to
hand it to the JVM, a large share of the driver's time to build each query.
PySpark reads it once per process, at its first API call with an active
session (``pyspark.errors.utils.is_debugging_enabled``), so setting it on an
existing session has no effect, and it cannot be a runtime conf. What it
gives up: an analysis error no longer carries the Python call-site block;
its error class and message stay the same.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

from mapreduce_docker_spark.sources.catalog import _RUNTIME_CONFS

# sized for the local[32] harness; a real cluster deployment overrides these
_DEFAULTS = {
    **_RUNTIME_CONFS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "50m",
    # static: PySpark caches it per process at the first API call, so it
    # must be set before the session exists (module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # managed-table location (bucketed layouts, sources/sinks.py); static
    # conf, so it must be set at session build, and never the repo cwd
    "spark.sql.warehouse.dir": os.path.join(
        tempfile.gettempdir(), "spark_graft_warehouse"
    ),
}


def get_spark(
    app_name: str = "mapreduce-docker-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) —
    on a real cluster the caller passes the cluster master / lets
    spark-submit decide by passing ``master=""``.
    """
    # make the engine package importable in executor Python workers no matter
    # where the driver process was launched from (mapInPandas/pandas-UDF
    # closures reference module functions); must happen before JVM launch
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
