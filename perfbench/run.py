"""End-to-end benchmark of the engine, one workload per run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 15 --trace 0

Each run is a fresh process and one closed-loop client: one driver issues
one operation at a time on ``local[CORES]``. A run generates its inputs from
the seed, answers every operation once with an independent reference
(the generator's exact counts, or DuckDB running the query's registered
``oracle_sql``), then makes a cold pass, the workload's warm-up passes
and steady passes until ``--seconds`` have gone by. Every pass checks every
output; an exception or a wrong answer counts as a failed operation and
the run goes on.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
passes with Spark's event log on and prints the per-layer metrics (see
``LAYER_METRICS``). The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
give the config stamp, every metric with its unit, the host's steal share
during the steady passes, and the error rate.
``--out FILE`` also writes the whole record (stamp, metrics, per-operation
times) as JSON; ``perfbench/compare.py`` compares such records.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import check
import gen

CORES = 2
DRIVER_MEMORY = "3g"
# C1 only: with the default tiered JIT, C2 keeps compiling Spark's planner
# and codegen paths for minutes and which code it produces varies from run
# to run, so pass times and CPU time drift within a run and differ between
# runs; with C1 only they settle within the first passes (STEADINESS.md)
JVM_OPTIONS = "-XX:TieredStopAtLevel=1"
MIN_STEADY_PASSES = 4
SETUP_PROBES = 1  # extra fresh-process set-ups per untraced run

# wordcount input: the file count is a multiple of the core count, so the
# scan's input splits fill every core in every wave
CORPUS_BYTES = 8_000_000
CORPUS_FILES = 2 * CORES
TOP_K = 20

# queries input: star schema at this scale factor, plus text tables
TABLES_SF = 0.01
BASE_DOCS = 500
DOC_REPLICAS = 2
VECTORS = 500

QUERIES = (
    "q1_pricing_summary",
    "window_running_spend",
    "events_session_5m",
    "text_tfidf_top_term",
    "dedup_minhash_signatures",
)
WORDCOUNT_OUTPUTS = ("wc_ranked_tsv", "wc_top_k", "wc_unique_words")

# setup_s: fresh process to a ready session with the registry loaded, the
#   median of this run's own set-up and SETUP_PROBES more fresh processes;
# cold_s: the first (checked) pass in the fresh session;
# wall_s: median steady pass; mb_per_s: input bytes / wall_s;
# query_geomean_s: geometric mean of each operation's median steady time;
# cpu_s: CPU seconds of the JVM and its Python workers per steady pass.
# Failed or wrong operations are the record's failed / attempted.
E2E_METRICS = {
    "setup_s": "s",
    "cold_s": "s",
    "wall_s": "s",
    "mb_per_s": "MB/s",
    "query_geomean_s": "s",
    "cpu_s": "s",
}

LAYER_METRICS = {
    "session.get_spark_s": "s",
    "registry.all_specs_s": "s",
    "registry.build_s": "s",
    "trace.pass_s": "s",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sched_wait_s": "s",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_records": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.peak_execution_memory_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.task_failures": "count",
    "spark.input_rows_per_result_row": "ratio",
    "sources.text.read_s": "s",
    "sources.text.input_bytes": "bytes",
    "sources.text.write_tsv_s": "s",
    "sources.text.tsv_bytes": "bytes",
    "functions.tokenize.tokens_s": "s",
    "functions.tokenize.token_count": "count",
    "operators.wordcount.word_counts_s": "s",
    "operators.wordcount.combine_ratio": "ratio",
    "functions.texthash.shingle_hash_rows_s": "s",
    "functions.texthash.shingle_rows": "count",
    "sources.catalog.load_s": "s",
    "sources.catalog.input_bytes": "bytes",
    **{f"query.{op}_s": "s" for op in ("wordcount",) + WORDCOUNT_OUTPUTS + QUERIES},
}


# --------------------------------------------------------------------------
# helpers


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of every descendant of ``root_pid`` (the JVM and its
    Python workers), including their reaped children."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [p for p, pp in parent.items() if pp == root_pid]
    while stack:
        p = stack.pop()
        total += cpu.get(p, 0)
        stack += [c for c, pp in parent.items() if pp == p]
    return total / os.sysconf("SC_CLK_TCK")


def _host_cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of the host's CPUs so far: the time
    a hypervisor ran something else on them, and all time."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _noop(df):
    """An action that runs ``df`` to completion and discards the rows."""
    return lambda: df.write.format("noop").mode("overwrite").save()


def _read_bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _source_digest(root: str) -> str:
    """Digest of the engine's sources: identifies the code under test even
    where the checkout is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "mapreduce_docker_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def _git_rev(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _start_session(conf: dict):
    """Import the engine, build its session and load the registry.

    Returns ``(spark, specs, get_spark_s, all_specs_s)``; the import time is
    charged to ``get_spark_s``, as a fresh process pays it.
    """
    t0 = time.perf_counter()
    from mapreduce_docker_spark.registry import all_specs
    from mapreduce_docker_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    t1 = time.perf_counter()
    specs = all_specs()
    return spark, specs, t1 - t0, time.perf_counter() - t1


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --------------------------------------------------------------------------
# workloads


class WordCount:
    """The reference's whole production job over a seeded Zipf corpus:
    read -> word_counts, then the ranked TSV sink, the top-k and the
    unique-word count, all from one counted result."""

    name = "wordcount"
    # one operation, as in the reference: count once, then three outputs
    ops = ("wordcount",)
    warmup_passes = 1

    def prepare(self, work: str, seed: int) -> None:
        self.corpus = os.path.join(work, "corpus")
        self.out = os.path.join(work, "tsv")
        vocab, counts = gen.write_corpus(self.corpus, seed, CORPUS_BYTES, CORPUS_FILES)
        self.expected_tsv = gen.expected_tsv(vocab, counts)
        lines = self.expected_tsv.split(b"\n", TOP_K)[:TOP_K]
        self.expected_top = [(w.decode(), int(c)) for w, c in (x.split(b"\t") for x in lines)]
        self.expected_unique = int((counts > 0).sum())
        self.token_count = int(counts.sum())
        self.input_bytes = _dir_bytes(self.corpus)
        self.input_rows = sum(
            _read_bytes(os.path.join(self.corpus, f)).count(b"\n")
            for f in os.listdir(self.corpus)
        )
        self.output_s = {out: [] for out in WORDCOUNT_OUTPUTS}

    def expect(self, specs) -> None:
        pass

    def build(self, spark, specs, op):
        from mapreduce_docker_spark.operators import wordcount as wc
        from mapreduce_docker_spark.sources.text import read_text_corpus, write_tsv

        counts = wc.word_counts(read_text_corpus(spark, self.corpus), text_col="value").persist()
        outputs = {
            "wc_ranked_tsv": lambda df=wc.ranked(counts): write_tsv(df, self.out),
            "wc_top_k": wc.top_k(counts, TOP_K).collect,
            "wc_unique_words": wc.unique_words(counts).collect,
        }

        def action():
            results = {}
            try:
                for out, run_output in outputs.items():
                    t0 = time.perf_counter()
                    results[out] = run_output()
                    self.output_s[out].append(time.perf_counter() - t0)
            finally:
                counts.unpersist(blocking=True)
            return results

        return action

    def check(self, op, result) -> str | None:
        parts = [f for f in sorted(os.listdir(self.out)) if f.startswith("part-")]
        data = b"".join(_read_bytes(os.path.join(self.out, f)) for f in parts)
        if data != self.expected_tsv:
            return f"TSV differs ({len(data)} bytes)"
        top = [(r[0], r[1]) for r in result["wc_top_k"]]
        if top != self.expected_top:
            return f"top-k {top[:3]}..."
        unique = result["wc_unique_words"][0][0]
        return None if unique == self.expected_unique else f"{unique} unique words"

    def result_rows(self, op) -> int:
        return self.expected_unique + TOP_K + 1

    def output_medians(self, passes: int) -> dict:
        """Median time of each of the three outputs over the last passes."""
        return {f"query.{out}_s": _median(t[-passes:]) for out, t in self.output_s.items()}

    def probes(self, spark, timed) -> dict:
        """Prefix actions on each public function, differenced."""
        from pyspark.sql import functions as F

        from mapreduce_docker_spark.functions.tokenize import tokens
        from mapreduce_docker_spark.operators import wordcount as wc
        from mapreduce_docker_spark.sources.text import read_text_corpus, write_tsv

        text = read_text_corpus(spark, self.corpus)
        counts = wc.word_counts(text, text_col="value")
        read = timed("read", _noop(text))
        toks = timed("tokens", _noop(text.select(F.explode(tokens("value")))))
        counted = timed("word_counts", _noop(counts))
        rank = timed("ranked", _noop(wc.ranked(counts)))
        sink = timed("write_tsv", lambda: write_tsv(wc.ranked(counts), self.out))
        return {
            "sources.text.read_s": read,
            "functions.tokenize.tokens_s": toks - read,
            "operators.wordcount.word_counts_s": counted - toks,
            "sources.text.write_tsv_s": sink - rank,
            "sources.text.tsv_bytes": _dir_bytes(self.out),
            "sources.text.input_bytes": self.input_bytes,
            "functions.tokenize.token_count": self.token_count,
        }

    def probe_counters(self, groups) -> dict:
        g = groups.get("probe:word_counts")
        return {"operators.wordcount.combine_ratio": g.shuffle_records / self.token_count} if g else {}


class Queries:
    """Registered star-schema, event-time and text-dedup queries over
    seeded catalog tables, each checked against its DuckDB oracle."""

    name = "queries"
    ops = QUERIES
    warmup_passes = 1

    def prepare(self, work: str, seed: int) -> None:
        self.tables = os.path.join(work, "tables")
        rows = gen.write_tables(self.tables, seed, TABLES_SF, BASE_DOCS, DOC_REPLICAS, VECTORS)
        self.input_rows = sum(rows.values())
        self.input_bytes = _dir_bytes(self.tables)

    def expect(self, specs) -> None:
        # DuckDB runs before the session does any work, so it may use every core
        self.expected = check.oracle_answers(self.tables, {q: specs[q].sql for q in QUERIES}, os.cpu_count() or 1)

    def build(self, spark, specs, op):
        df = specs[op].fn(spark, self.tables)
        return df.toArrow

    def check(self, op, result) -> str | None:
        cols = result.column_names
        rows = [tuple(r.values()) for r in result.to_pylist()]
        return check.same_rows(cols, rows, *self.expected[op])

    def result_rows(self, op) -> int:
        return len(self.expected[op][1])

    def probes(self, spark, timed) -> dict:
        from pyspark.sql import functions as F

        from mapreduce_docker_spark.functions.texthash import shingle_hash_rows
        from mapreduce_docker_spark.functions.tokenize import tokens
        from mapreduce_docker_spark.sources.catalog import load_table

        load = sum(timed(f"load_{t}", _noop(load_table(spark, self.tables, t))) for t in gen.TABLE_NAMES)
        docs = load_table(spark, self.tables, "documents")
        docs_s = timed("documents", _noop(docs))
        toks = timed("tokens", _noop(docs.select(F.explode(tokens("text")))))
        sh = shingle_hash_rows(docs, ["doc_id"])
        shingle = timed("shingle_hash_rows", _noop(sh))
        return {
            "sources.catalog.load_s": load,
            "sources.catalog.input_bytes": self.input_bytes,
            "functions.tokenize.tokens_s": toks - docs_s,
            "functions.tokenize.token_count": docs.select(F.explode(tokens("text"))).count(),
            "functions.texthash.shingle_hash_rows_s": shingle - docs_s,
            "functions.texthash.shingle_rows": sh.count(),
        }

    def probe_counters(self, groups) -> dict:
        return {}

    def output_medians(self, passes: int) -> dict:
        return {}


WORKLOADS = {"wordcount": WordCount, "queries": Queries}


# --------------------------------------------------------------------------
# the run


class Run:
    def __init__(self, workload, seed: int, seconds: int, trace: bool, work: str):
        self.wl, self.seed, self.seconds, self.trace, self.work = workload, seed, seconds, trace, work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []

    def conf(self) -> dict:
        conf = _session_conf(self.work)
        if self.trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def one_pass(self, spark, specs, tag: str, order) -> dict:
        """Run every operation once, timing build + action; check each."""
        sc = spark.sparkContext
        ops, build_s = {}, 0.0
        for op in order:
            sc.setJobGroup(f"{tag}:{op}", op)
            self.attempted += 1
            start = time.time()
            t0 = time.perf_counter()
            try:
                action = self.wl.build(spark, specs, op)
                build_s += time.perf_counter() - t0
                result = action()
                elapsed = time.perf_counter() - t0
                err = self.wl.check(op, result)
            except Exception:
                elapsed = time.perf_counter() - t0
                err = traceback.format_exc(limit=3)
            if err is not None:
                self.failed += 1
                self.errors.append(f"{tag}:{op}: {err}")
                print(f"FAILED {tag}:{op}: {err}", file=sys.stderr)
            ops[op] = {"s": elapsed, "start_ms": start * 1000, "end_ms": (start + elapsed) * 1000}
        sc.setJobGroup(f"{tag}:idle", "idle")
        p = {"tag": tag, "s": sum(o["s"] for o in ops.values()), "build_s": build_s, "ops": ops}
        self.passes.append(p)
        return p

    def execute(self) -> dict:
        wl = self.wl
        wl.prepare(self.work, self.seed)
        spark, specs, get_spark_s, all_specs_s = _start_session(self.conf())
        try:
            wl.expect(specs)
            order_rng = random.Random(self.seed)
            order = list(wl.ops)

            def next_order():
                order_rng.shuffle(order)
                return list(order)

            cold = self.one_pass(spark, specs, "cold", next_order())
            for w in range(wl.warmup_passes):
                self.one_pass(spark, specs, f"w{w}", next_order())
            cpu0, host0 = _tree_cpu_s(os.getpid()), _host_cpu_ticks()
            steady, t_end = [], time.perf_counter() + self.seconds
            while len(steady) < MIN_STEADY_PASSES or time.perf_counter() < t_end:
                steady.append(self.one_pass(spark, specs, f"s{len(steady)}", next_order()))
            cpu_s = (_tree_cpu_s(os.getpid()) - cpu0) / len(steady)
            host1 = _host_cpu_ticks()
            layers = self.run_probes(spark) if self.trace else {}
            stamp = self.stamp(spark)
        finally:
            _stop_session(spark)
        setups = [get_spark_s + all_specs_s]
        if not self.trace:
            setups += [_setup_probe_subprocess() for _ in range(SETUP_PROBES)]
        per_op = {op: _median([p["ops"][op]["s"] for p in steady]) for op in wl.ops}
        wall = _median([p["s"] for p in steady])
        e2e = {
            "setup_s": _median(setups),
            "cold_s": cold["s"],
            "wall_s": wall,
            "mb_per_s": wl.input_bytes / 1e6 / wall,
            "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in per_op.values())),
            "cpu_s": cpu_s,
        }
        record = {
            "stamp": stamp,
            "attempted": self.attempted,
            "failed": self.failed,
            "error_rate": self.failed / self.attempted,
            "e2e": e2e,
            "setups_s": setups,
            "per_op_s": per_op,
            "passes_s": [p["s"] for p in self.passes],
            # share of the host's CPU time taken by other guests while the
            # steady passes ran: not a metric, but it explains slow runs
            "steal_share": (host1[0] - host0[0]) / max(1, host1[1] - host0[1]),
            "errors": self.errors[:20],
        }
        if self.trace:
            record["layers"], record["absent"] = self.layers(steady, per_op, wall, get_spark_s, all_specs_s, layers)
        return record

    def run_probes(self, spark) -> dict:
        """Per-layer timings: the workload's prefix actions, each run once
        on the warm session under its own job group."""
        sc = spark.sparkContext

        def timed(name, action):
            sc.setJobGroup(f"probe:{name}", name)
            t0 = time.perf_counter()
            action()
            return time.perf_counter() - t0

        return self.wl.probes(spark, timed)

    def layers(self, steady, per_op, wall, get_spark_s, all_specs_s, probe_values):
        from eventlog import read_events, summarize

        groups = summarize(read_events(self.log_dir))
        per_pass = []
        for p in steady:
            gs = [(groups.get(f"{p['tag']}:{op}"), o) for op, o in p["ops"].items()]
            gs = [(g, o) for g, o in gs if g is not None]
            gap = sum(o["end_ms"] - o["start_ms"] - g.covered_ms(o["start_ms"], o["end_ms"]) for g, o in gs)
            gl = [g for g, _ in gs]
            per_pass.append(
                {
                    "spark.driver_gap_s": gap / 1000,
                    "spark.jobs": sum(g.jobs for g in gl),
                    "spark.stages": sum(g.stages for g in gl),
                    "spark.tasks": sum(g.tasks for g in gl),
                    "spark.sched_wait_s": sum(g.sched_wait_ms for g in gl) / 1000,
                    "spark.shuffle_fetch_wait_s": sum(g.fetch_wait_ms for g in gl) / 1000,
                    "spark.shuffle_write_bytes": sum(g.shuffle_write_bytes for g in gl),
                    "spark.shuffle_records": sum(g.shuffle_records for g in gl),
                    "spark.executor_run_s": sum(g.executor_run_ms for g in gl) / 1000,
                    "spark.executor_cpu_s": sum(g.executor_cpu_ns for g in gl) / 1e9,
                    "spark.jvm_gc_s": sum(g.gc_ms for g in gl) / 1000,
                    "spark.spill_bytes": sum(g.spill_bytes for g in gl),
                    "spark.peak_execution_memory_bytes": max((g.peak_memory for g in gl), default=0),
                    "spark.result_bytes": sum(g.result_bytes for g in gl),
                    "spark.input_rows_per_result_row": sum(g.input_records for g in gl)
                    / max(1, sum(self.wl.result_rows(op) for op in p["ops"])),
                }
            )
        values = {k: _median([pp[k] for pp in per_pass]) for k in per_pass[0]}
        values["spark.task_failures"] = sum(g.task_failures for g in groups.values())
        values["session.get_spark_s"] = get_spark_s
        values["registry.all_specs_s"] = all_specs_s
        values["registry.build_s"] = _median([p["build_s"] for p in steady])
        values["trace.pass_s"] = wall
        values.update({f"query.{op}_s": s for op, s in per_op.items()})
        values.update(self.wl.output_medians(len(steady)))
        values.update(probe_values)
        values.update(self.wl.probe_counters(groups))
        absent = {
            k: f"the {self.wl.name} workload does not exercise this layer"
            for k in LAYER_METRICS
            if k not in values
        }
        return {k: float(values.get(k, 0.0)) for k in LAYER_METRICS}, absent

    def stamp(self, spark) -> dict:
        sc = spark.sparkContext
        root = os.getcwd()
        return {
            "workload": self.wl.name,
            "seed": self.seed,
            "trace": int(self.trace),
            "cores": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": DRIVER_MEMORY,
            "spark_version": spark.version,
            "java_version": sc._jvm.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
            "input_bytes": self.wl.input_bytes,
            "input_rows": self.wl.input_rows,
            "warmup_passes": self.wl.warmup_passes,
            "jvm_options": JVM_OPTIONS,
            "run_seconds": self.seconds,
            "git_rev": _git_rev(root),
            "source_digest": _source_digest(root),
        }


def _session_conf(work: str) -> dict:
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData {JVM_OPTIONS}",
    }


def _setup_probe_subprocess() -> float:
    """Set-up time of one fresh process, measured by that process."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def _setup_probe(work: str) -> int:
    spark, _, get_spark_s, all_specs_s = _start_session(_session_conf(work))
    _stop_session(spark)
    print(get_spark_s + all_specs_s)
    return 0


def _print_record(record: dict, metrics: dict, units: dict) -> None:
    print("stamp: " + json.dumps(record["stamp"], sort_keys=True))
    for name, unit in units.items():
        print(f"  {name:<44} {metrics[name]:>16.6g} {unit}")
    for name, why in record.get("absent", {}).items():
        print(f"  absent {name}: {why}")
    print(f"  steal_share {record['steal_share']:.4f} (host CPU time taken by other guests)")
    print(
        f"  error_rate {record['error_rate']:.6g} ratio "
        f"({record['failed']} failed of {record['attempted']} operations)"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full record as JSON here")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mapreduce_docker_spark", "session.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    if args.workload is None and not args.setup_probe:
        ap.error("--workload is required")
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        if args.setup_probe:
            return _setup_probe(work)
        run = Run(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace), work)
        record = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    units = LAYER_METRICS if args.trace else E2E_METRICS
    metrics = record["layers"] if args.trace else record["e2e"]
    _print_record(record, metrics, units)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
