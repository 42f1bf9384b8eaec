"""The staging law (sources/staging.py): content-keyed artifacts are staged
once, safely across processes, and never rewritten; per-build outputs leave
nothing behind under the temp dir."""

from __future__ import annotations

import os
import tempfile

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from mapreduce_docker_spark import oracle
from mapreduce_docker_spark.registry import all_specs
from mapreduce_docker_spark.sources.catalog import TABLES, _package_zip, load_table
from mapreduce_docker_spark.sources.staging import stage_once, staging_dir

# one query per content-keyed stager whose cold build used to race
RACED_QUERIES = (
    "streaming_incremental_minhash_dedup",  # stream source chunks
    "sim_ann_ivf_stored",  # IVF index
    "bootstrap_zip_wordcount",  # bootstrap zip + extracted corpus
    "streaming_wordcount",  # symlinked stream source directory
    "layout_partition_pruned_events",  # a layout
)


@pytest.fixture
def private_tmpdir(tmp_path, monkeypatch):
    """Point ``tempfile`` (and so every stager) at an empty directory."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    return tmp_path


def test_write_once_staging_safe_across_concurrent_processes(tmp_path):
    """Two cold processes build every converted stager's query at the same
    moment and must both succeed and agree.

    Each process stages into the same PRIVATE root (TMPDIR override), so
    both start cold without touching the shared staged dirs, and the two
    meet at a file barrier before each query so their staging overlaps.
    Before the shared protocol, the incremental-MinHash source promoted
    with a bare ``os.replace`` and the loser died with ``OSError [Errno
    39] Directory not empty``; the other stagers had check-then-create
    and rmtree-while-reading races of the same kind."""
    import subprocess
    import sys as _sys

    stage = tmp_path / "stage"
    barrier = tmp_path / "barrier"
    stage.mkdir()
    barrier.mkdir()
    env = dict(os.environ, TMPDIR=str(stage))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = r"""
import hashlib, os, sys, time
sys.path.insert(0, %r)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("staging-race-proc")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from mapreduce_docker_spark.registry import all_specs

specs = all_specs()
me, barrier = sys.argv[1], sys.argv[2]
for name in %r:
    open(os.path.join(barrier, name + "." + me), "w").close()
    deadline = time.time() + 60  # a dead peer must not stall the run
    while time.time() < deadline and sum(
        f.startswith(name + ".") for f in os.listdir(barrier)
    ) < 2:
        time.sleep(0.05)
    rows = sorted(repr(tuple(r)) for r in specs[name].fn(spark, %r).collect())
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    print("ROWS:%%s:%%d:%%s" %% (name, len(rows), digest), flush=True)
spark.stop()
""" % (repo, RACED_QUERIES, SF_SMOKE)
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", script, str(i), str(barrier)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            cwd=str(tmp_path),
            env=env,
        )
        for i in range(2)
    ]
    outs = [p.communicate(timeout=900) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"stdout={out[-2000:]}\nstderr={err[-4000:]}"
    results = [
        [ln for ln in out.splitlines() if ln.startswith("ROWS:")] for out, _ in outs
    ]
    assert [ln.split(":")[1] for ln in results[0]] == list(RACED_QUERIES), results
    assert results[0] == results[1], results
    # every build staged and nothing was left half-written
    assert not [p for p in os.listdir(stage) if ".tmp-" in p]


def test_write_once_cleans_tmp_on_failure_and_sweeps_dead_corpses(private_tmpdir):
    """Orphan hygiene: a raising ``write`` must not leak its
    process-unique tmp dir, and tmp corpses left by DEAD stager pids are
    swept on the next invocation — while a LIVE process's tmp is never
    touched."""
    out = staging_dir("orphantest", "d1gest")

    # 1. write() raises -> tmp removed, nothing promoted
    def bad_write(tmp):
        os.makedirs(tmp)
        (open(os.path.join(tmp, "junk"), "w")).close()
        raise RuntimeError("simulated writer crash")

    with pytest.raises(RuntimeError):
        stage_once("orphantest", "d1gest", bad_write)
    leftovers = [p for p in os.listdir(private_tmpdir) if p.startswith("mds_orphantest")]
    assert leftovers == [], leftovers

    # 2. corpses: dead-pid swept, live-pid (ours) kept, unparsable kept
    dead = f"{out}.tmp-999999999-deadbeef"
    live = f"{out}.tmp-{os.getpid()}-cafecafe"
    weird = f"{out}.tmp-notapid-aa"
    for d in (dead, live, weird):
        os.makedirs(d)

    def good_write(tmp):
        os.makedirs(tmp)
        (open(os.path.join(tmp, "_SUCCESS"), "w")).close()

    got = stage_once("orphantest", "d1gest", good_write)
    assert os.path.exists(os.path.join(got, "_SUCCESS"))
    assert not os.path.exists(dead), "dead-pid corpse not swept"
    assert os.path.exists(live), "live process tmp must never be touched"
    assert os.path.exists(weird), "unrecognized names are not ours to delete"

    # 3. fast path (_SUCCESS present) also sweeps newly-dead corpses
    os.makedirs(dead)
    assert stage_once("orphantest", "d1gest", good_write) == got
    assert not os.path.exists(dead)


def test_stage_once_marks_success_and_never_rewrites(private_tmpdir):
    """A ``write`` that leaves no ``_SUCCESS`` (plain files, a directory it
    did not even create) still promotes a marked directory, and a staged
    directory is reused, not rewritten."""
    calls = []

    def write(tmp):
        calls.append(tmp)

    out = stage_once("marktest", "d1gest", write)
    assert os.listdir(out) == ["_SUCCESS"]
    assert stage_once("marktest", "d1gest", write) == out
    assert len(calls) == 1


def test_package_zip_is_keyed_on_content(private_tmpdir, tmp_path_factory):
    """The zip shipped to Python workers is staged once per content of the
    package's ``.py`` files: the same sources give the same path (no zip
    per process), a touched ``.py`` gives a new one."""
    import zipfile

    pkg = tmp_path_factory.mktemp("src") / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "mod.py").write_text("X = 1\n")
    (pkg / "notes.txt").write_text("not shipped")

    first = _package_zip(str(pkg))
    assert _package_zip(str(pkg)) == first
    with zipfile.ZipFile(first) as z:
        assert sorted(z.namelist()) == ["pkg/__init__.py", "pkg/sub/mod.py"]

    st = os.stat(pkg / "sub" / "mod.py")
    os.utime(pkg / "sub" / "mod.py", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    second = _package_zip(str(pkg))
    assert second != first
    assert os.path.exists(first), "a staged zip is never removed or rewritten"


def test_per_build_outputs_leave_nothing_behind(spark, private_tmpdir):
    """Outputs made per build live in a temporary directory that is gone
    when the build returns; the returned frames were checkpointed first,
    so each still collects equal to its oracle or batch twin."""
    specs = all_specs()
    names = (
        "streaming_incremental_minhash_dedup",
        "streaming_foreachbatch_sink",
        "wordcount_tsv_roundtrip",
    )
    built = {name: specs[name].fn(spark, SF_SMOKE) for name in names}
    leaked = [
        p
        for p in os.listdir(private_tmpdir)
        if p.startswith(("incdedup_run_", "fb_sink_", "wc_tsv_"))
    ]
    assert leaked == []

    con = oracle.connect(SF_SMOKE, TABLES)
    try:
        for name in ("streaming_incremental_minhash_dedup", "wordcount_tsv_roundtrip"):
            ores = con.execute(specs[name].sql)
            mismatch = oracle.diff(
                built[name].columns,
                built[name].collect(),
                [d[0] for d in ores.description],
                ores.fetchall(),
            )
            assert mismatch is None, f"{name}: {mismatch}"
    finally:
        con.close()
    batch = sorted(
        (r["event_type"], r["n_events"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    got = sorted(
        (r["event_type"], r["n_events"])
        for r in built["streaming_foreachbatch_sink"].collect()
    )
    assert got == batch
