#!/usr/bin/env python3
"""Summarise a traced run: self time per layer, then every per-layer metric.

    python3 perfbench/summary.py TRACE.jsonl [RECORD.json]

TRACE is a span file written by a --trace 1 run (under
.bench_build/perfbench/traces). RECORD is that run's kept record; by
default the newest traced record of the same workload and seed.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("trace")
    p.add_argument("record", nargs="?")
    args = p.parse_args()
    spans = benchlib.load_spans(args.trace)
    total = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["parent"] == 0)
    print(f"spans: {len(spans)}, top-level seconds: {total:.3f}")
    print(f"{'layer':<24} {'self_s':>10} {'share':>7}")
    for layer, secs in sorted(benchlib.layer_self_times(spans).items(), key=lambda kv: -kv[1]):
        print(f"{layer:<24} {secs:>10.3f} {secs / total:>7.1%}")

    record = args.record
    if record is None:
        name = os.path.basename(args.trace).rsplit(".", 1)[0]  # <workload>-<seed>
        workload, seed = name.rsplit("-", 1)
        results = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(args.trace))),
                               "results")
        found = sorted(glob.glob(os.path.join(results, f"{workload}-s{seed}-t1-*.json")))
        record = found[-1] if found else None
    if record is None:
        return
    rec = json.load(open(record))
    spec = benchlib.load_spec()
    print(f"\nper-layer metrics of {os.path.basename(record)}")
    for m in spec["per_layer"]:
        v = rec["metrics"].get(m["name"])
        shown = "missing" if v is None else f"{v:.6g}"
        print(f"{m['name']:<32} {shown:>14} {m['unit']}")


if __name__ == "__main__":
    main()
