"""Helpers shared by the benchmark's tools: the spec, run records,
quartiles, verdicts and span self time."""
import glob
import json
import os
import statistics


SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them; a
    single sample is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else 0.0


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    its children cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def layer_self_times(spans):
    """Self seconds summed per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def load_records(path):
    """The JSON run records run.py keeps, from one file or a directory of
    them, in the order they ran."""
    files = glob.glob(os.path.join(path, "*.json")) if os.path.isdir(path) else [path]
    recs = []
    for fp in files:
        with open(fp) as f:
            recs.append(json.load(f))
    return sorted(recs, key=lambda r: r["start_ms"])


def worse_by(a, b, better):
    """How much worse `b` is than `a` as a share of `a` (negative: better)."""
    d = (b - a) / a if a else 0.0
    return d if better == "lower" else -d


def pairs_won(a_vals, b_vals, better):
    """Share of the pairs (a_vals[i], b_vals[i]) in which b is better; ties
    count for neither side."""
    n = min(len(a_vals), len(b_vals))
    if n == 0:
        return 0.0
    won = sum(1 for x, y in zip(a_vals, b_vals)
              if (y < x if better == "lower" else y > x))
    return won / n


def verdict(a_vals, b_vals, better, bound):
    """Judge runs `b_vals` against `a_vals` for one metric:
    'unresolved' when either side's spread exceeds the bound (unless every
    b run beats every a run), 'worse' when b's median is worse by more than
    the bound, 'better' when b wins at least 9 in 10 pairs and the medians
    differ by more than a's quartile distance, else 'same'."""
    qa, qb = quartiles(a_vals), quartiles(b_vals)
    beats = (max(b_vals) < min(a_vals)) if better == "lower" else (min(b_vals) > max(a_vals))
    if max(spread(a_vals), spread(b_vals)) > bound:
        return "better" if beats else "unresolved"
    change = worse_by(qa[1], qb[1], better)
    if change > bound:
        return "worse"
    if change < 0 and pairs_won(a_vals, b_vals, better) >= 0.9 and \
            abs(qb[1] - qa[1]) > qa[2] - qa[0]:
        return "better"
    return "same"
