"""Compare the generated catalog tables with a directory of real fixtures.

    python3 perfbench/fidelity.py FIXTURE_DIR [--seed N]

Run from the root of a checkout. ``FIXTURE_DIR`` holds the ten catalog
tables as ``<name>.parquet`` (the ``sf0.01`` fixture set, say). The
generator writes the same tables at the fixtures' own size (scale factor
from ``lineitem``, one document replica, the fixtures' document and vector
counts), then this prints, side by side:

* per table, the row count and, per column, its parquet type, distinct
  count, minimum and maximum (DuckDB over the files);
* per benchmark query, the result rows and what Spark ran for it (jobs,
  stages, tasks, input rows, from the event log), and whether the result
  equals the query's DuckDB oracle on that input.

It changes nothing; its output is the evidence that the generated tables
drive the engine the way its real inputs do.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import check
import gen
import run
from eventlog import read_events, summarize


def _profile(tables_dir: str) -> dict:
    """``{table: (rows, {column: (type, distinct, min, max)})}``."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect(config={"threads": 1})
    out = {}
    for t in gen.TABLE_NAMES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        cols = {}
        for f in pq.read_schema(path):
            if str(f.type).startswith("list"):
                agg = f"count(DISTINCT {f.name}), min(list_min({f.name})), max(list_max({f.name}))"
            else:
                agg = f"count(DISTINCT {f.name}), min({f.name}), max({f.name})"
            distinct, lo, hi = con.execute(f"SELECT {agg} FROM read_parquet('{path}')").fetchone()
            cols[f.name] = (str(f.type), distinct, _short(lo), _short(hi))
        out[t] = (pq.ParquetFile(path).metadata.num_rows, cols)
    con.close()
    return out


def _short(v) -> str:
    s = str(v)
    return s if len(s) <= 24 else s[:21] + "..."


def _query_profile(spark, tables_dir: str, tag: str, specs) -> dict:
    """``{query: (result rows, agrees with oracle)}``; jobs run under the
    job group ``<tag>:<query>``."""
    expected = check.oracle_answers(tables_dir, {q: specs[q].sql for q in run.QUERIES}, run.CORES)
    out = {}
    for q in run.QUERIES:
        spark.sparkContext.setJobGroup(f"{tag}:{q}", q)
        res = specs[q].fn(spark, tables_dir).toArrow()
        rows = [tuple(r.values()) for r in res.to_pylist()]
        out[q] = (len(rows), check.same_rows(res.column_names, rows, *expected[q]) is None)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("fixtures")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    fixtures = os.path.abspath(args.fixtures)
    work = os.path.join(root, ".perfbench_work", f"fidelity-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        real = _profile(fixtures)
        sf = real["lineitem"][0] / 6_000_000
        generated = os.path.join(work, "tables")
        gen.write_tables(generated, args.seed, sf, real["documents"][0], 1, real["embeddings"][0])
        synth = _profile(generated)

        print(f"tables: fixtures {fixtures} against generated (seed {args.seed}, sf {sf:g})")
        for t in gen.TABLE_NAMES:
            (rr, rc), (gr, gc) = real[t], synth[t]
            print(f"{t}: rows {rr} | {gr}")
            for c in list(rc) + [c for c in gc if c not in rc]:
                print(f"  {c:<16} {rc.get(c)} | {gc.get(c)}")

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf = run._session_conf(work)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
        spark, specs, _, _ = run._start_session(conf)
        try:
            answers = {
                "fixtures": _query_profile(spark, fixtures, "fixtures", specs),
                "generated": _query_profile(spark, generated, "generated", specs),
            }
        finally:
            run._stop_session(spark)
        groups = summarize(read_events(log_dir))
        print("queries: result rows, jobs, stages, tasks, input rows, oracle agrees (fixtures | generated)")
        for q in run.QUERIES:
            cells = []
            for tag in ("fixtures", "generated"):
                g = groups[f"{tag}:{q}"]
                rows, ok = answers[tag][q]
                cells.append(f"{rows} {g.jobs} {g.stages} {g.tasks} {g.input_records} {ok}")
            print(f"  {q:<26} {cells[0]} | {cells[1]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
