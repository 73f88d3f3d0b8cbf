#!/usr/bin/env python3
"""Compare benchmark records (the JSON files run.py keeps under
.bench_build/records/).

    compare.py pair <parent_dir> <change_dir>
        Per workload and end-to-end metric: each side's median and
        quartiles, and the fraction of seed-matched pairs the change wins
        (ties count for neither side), with the metric's bound from
        BENCHMARK.json. A gain needs a win fraction of at least 0.9 and a
        median difference larger than the parent's own quartile spread.

    compare.py overhead <dir>
        Tracing overhead per workload: traced minus untraced p50 latency
        over the seeds that have both kinds of run.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def by_seed(recs, workload, trace):
    return {r["stamp"]["seed"]: r for r in recs
            if r["stamp"]["workload"] == workload and r["stamp"]["trace"] == trace}


def pair(parent_dir, change_dir):
    bench_file = os.path.join(HERE, "..", "BENCHMARK.json")
    with open(bench_file) as f:
        bench = json.load(f)
    a, b = load(parent_dir), load(change_dir)
    print(f"{'workload':<10} {'metric':<16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'wins':>9} {'bound':>6}")
    for wl in [w["name"] for w in bench["workloads"]]:
        pa, pb = by_seed(a, wl, 0), by_seed(b, wl, 0)
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            va = [r["metrics"][name]["value"] for r in pa.values() if name in r["metrics"]]
            vb = [r["metrics"][name]["value"] for r in pb.values() if name in r["metrics"]]
            if not va or not vb:
                continue
            wins = losses = 0
            for seed in sorted(set(pa) & set(pb)):
                x, y = pa[seed]["metrics"][name]["value"], pb[seed]["metrics"][name]["value"]
                if x != y:
                    better = y < x if lower else y > x
                    wins += better
                    losses += not better
            qa, qb = quartiles(va), quartiles(vb)
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            frac = wins / (wins + losses) if wins + losses else 0.0
            print(f"{wl:<10} {name:<16} {fmt.format(*qa):>30} {fmt.format(*qb):>30} "
                  f"{frac:>5.2f} ({wins + losses}) {m['bound']:>5}")


def overhead(d):
    recs = load(d)
    for wl in sorted({r["stamp"]["workload"] for r in recs}):
        plain, traced = by_seed(recs, wl, 0), by_seed(recs, wl, 1)
        diffs = [traced[s]["metrics"]["trace.latency_p50_ms"]["value"] -
                 plain[s]["metrics"]["latency_p50_ms"]["value"] for s in set(plain) & set(traced)]
        if diffs:
            print(f"{wl}: tracing overhead on p50 latency, median over {len(diffs)} seeds: "
                  f"{statistics.median(diffs):.1f} ms")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "pair":
        pair(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3 and sys.argv[1] == "overhead":
        overhead(sys.argv[2])
    else:
        sys.exit(__doc__)
