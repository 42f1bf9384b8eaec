"""Compare benchmark records written by ``run.py --out``.

    python3 perfbench/compare.py BASE.json [...] [--new NEW.json [...]]

With one set, prints each end-to-end metric's median, quartiles and
spread (quartile distance over median) per workload. With ``--new``, also
prints each metric's median change against the base and the bound from
``BENCHMARK.json``.

Records are refused (exit code 2) unless they were made under the same
configuration: records of one workload must match in cores, shuffle
partitions, driver memory, JVM options, Spark, Java and Python versions,
warm-up, run length and tracing (a traced run has the event log on and one
set-up), and records with the same workload and seed must have the same
input size.
Seed, git revision and source digest identify a record and may differ.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

IDENTITY = {"seed", "git_rev", "source_digest"}


def _read_json(path):
    with open(path) as fh:
        return json.load(fh)


def load(paths):
    return [_read_json(p) for p in paths]


def stamp_conflicts(records) -> list[str]:
    """Reasons the records may not be compared; empty when they may."""
    out = []
    configs, inputs = {}, {}
    for r in records:
        s = r["stamp"]
        config = {k: v for k, v in s.items() if k not in IDENTITY | {"input_bytes", "input_rows"}}
        first = configs.setdefault(s["workload"], config)
        for k in first.keys() | config.keys():
            if config.get(k) != first.get(k):
                out.append(f"{s['workload']} {k}: {config.get(k)!r} != {first.get(k)!r} (seed {s['seed']})")
        key = (s["workload"], s["seed"])
        got = (s["input_bytes"], s["input_rows"])
        if inputs.setdefault(key, got) != got:
            out.append(f"{key}: input {got} != {inputs[key]}")
    return out


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summarize(records) -> dict:
    """``{workload: {metric: (q1, median, q3, n)}}`` over the e2e metrics."""
    by_wl: dict = {}
    for r in records:
        by_wl.setdefault(r["stamp"]["workload"], []).append(r)
    out = {}
    for wl, rs in sorted(by_wl.items()):
        out[wl] = {}
        for m in rs[0]["e2e"]:
            vals = [r["e2e"][m] for r in rs]
            q1, med, q3 = quartiles(vals) if len(vals) > 1 else (vals[0],) * 3
            out[wl][m] = (q1, med, q3, len(vals))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--new", nargs="+", default=[])
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    conflicts = stamp_conflicts(base + new)
    if conflicts:
        print("refusing to compare records made under different configurations:", file=sys.stderr)
        for c in conflicts:
            print("  " + c, file=sys.stderr)
        return 2
    bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    bounds = {}
    if os.path.isfile(bench):
        bounds = {m["name"]: m["bound"] for m in _read_json(bench)["end_to_end"]}
    b, n = summarize(base), summarize(new) if new else {}
    for wl, metrics in b.items():
        print(f"{wl}:")
        for m, (q1, med, q3, cnt) in metrics.items():
            line = f"  {m:<16} median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {(q3 - q1) / med:.3f}  n={cnt}"
            if wl in n:
                nmed = n[wl][m][1]
                line += f"  new median {nmed:.4g}  change {(nmed - med) / med:+.3f}  bound {bounds.get(m, '-')}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
