from __future__ import annotations

import pytest

from mapreduce_docker_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # overridable so the same suite can assert partition-count invariance
    # (answers must not depend on parallelism — reference CHUNK_BYTES
    # independence, SURVEY §5.3)
    import os

    # one task slot per core the host grants (SPARK_GRAFT_CPUS, as in
    # session.get_spark); the shuffle partition count stays fixed
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    master = os.environ.get("SPARK_GRAFT_TEST_MASTER", f"local[{cpus}]")
    parts = int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8"))
    s = get_spark(app_name="tests", master=master, shuffle_partitions=parts)
    yield s
    s.stop()
