#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per workload and metric.

    python3 perfbench/compare.py A B

A and B are the JSON run records perfbench/run.py keeps under
.bench_build/perfbench/results: a file or a directory of them. Each side's
records are taken in the order they ran (their start time) and paired by
that order, so run the two sides alternately. Each row shows both sides'
quartiles, how much worse B's median is than A's, the share of pairs B
won, and a verdict against the bound BENCHMARK.json sets for the metric.
Per-layer metrics, which have no bound and no verdict, are listed when
both sides hold traced runs.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


def by_workload(recs, trace):
    out = {}
    for r in recs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r["metrics"])
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("a")
    p.add_argument("b")
    args = p.parse_args()
    spec = benchlib.load_spec()
    rows = [(m, 0) for m in spec["end_to_end"]] + [(m, 1) for m in spec["per_layer"]]
    sides = [benchlib.load_records(args.a), benchlib.load_records(args.b)]
    groups = {t: [by_workload(recs, t) for recs in sides] for t in (0, 1)}
    print(f"{'workload':<16} {'metric':<28} {'n':>5} {'A q1/med/q3':>28} "
          f"{'B q1/med/q3':>28} {'worse':>7} {'B won':>6}  verdict")
    verdicts = []
    for w in [x["name"] for x in spec["workloads"]]:
        for m, trace in rows:
            a, b = ([r[m["name"]] for r in g.get(w, []) if m["name"] in r]
                    for g in groups[trace])
            if not a or not b:
                continue
            qa, qb = benchlib.quartiles(a), benchlib.quartiles(b)
            won = benchlib.pairs_won(a, b, m["better"])
            worse = benchlib.worse_by(qa[1], qb[1], m["better"])
            v = benchlib.verdict(a, b, m["better"], m["bound"]) if "bound" in m else "-"
            verdicts.append(v)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:<16} {m['name']:<28} {len(a):>2}/{len(b):<2} {fmt(qa):>28} "
                  f"{fmt(qb):>28} {worse:>+7.1%} {won:>6.2f}  {v}")
    if not verdicts:
        raise SystemExit("no workload has runs on both sides")


if __name__ == "__main__":
    main()
