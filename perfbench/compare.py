#!/usr/bin/env python3
"""Compares two benchmark artifacts (JSON lines written by
`perfbench/run.py --out FILE`), workload by workload and metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

For each metric it prints both sides' medians and quartiles, the share
of pairs NEW wins (pairs match runs by seed, ties count for neither) and
a verdict against BENCHMARK.json's bound for the metric:

- `unresolved`: either side's run-to-run spread (quartile distance over
  median) exceeds the bound, unless every NEW run beats every BASE run;
- `worse`: NEW's median is worse than BASE's by more than the bound;
- `better`: NEW wins at least nine pairs in ten and the medians differ by
  more than BASE's quartile distance;
- `same` otherwise. Per-layer metrics have no bound and get no verdict.
"""
import json
import os
import statistics
import sys


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, med, q3 = statistics.quantiles(vs, n=4)
    return q1, statistics.median(vs), q3


def verdict(base, new, higher, bound):
    (b1, bm, b3), (n1, nm, n3) = quartiles(base), quartiles(new)
    sign = 1 if higher else -1
    dominates = (min(new) > max(base)) if higher else (max(new) < min(base))
    spread = max((b3 - b1) / abs(bm) if bm else 0.0,
                 (n3 - n1) / abs(nm) if nm else 0.0)
    if spread > bound and not dominates:
        return "unresolved"
    if bm and sign * (nm - bm) / abs(bm) < -bound:
        return "worse"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<20} {'metric':<42} {'base median [q1, q3]':>34} "
          f"{'new median [q1, q3]':>34} {'wins':>5}  verdict")
    for key in sorted(set(base) & set(new)):
        b_runs, n_runs = base[key], new[key]
        by_seed = {r["seed"]: r for r in b_runs}
        for name in b_runs[0]["metrics"]:
            if name not in n_runs[0]["metrics"] or name not in meta:
                continue
            m = meta[name]
            higher = m["better"] == "higher"
            bv = [r["metrics"][name]["value"] for r in b_runs]
            nv = [r["metrics"][name]["value"] for r in n_runs]
            pairs = [(by_seed[r["seed"]]["metrics"][name]["value"],
                      r["metrics"][name]["value"])
                     for r in n_runs if r["seed"] in by_seed]
            wins = sum(1 for b, n in pairs if (n > b if higher else n < b))
            rate = f"{wins / len(pairs):.0%}" if pairs else "-"
            v = "-"
            if "bound" in m:
                v = verdict(bv, nv, higher, m["bound"])
                if v is None:
                    bq = quartiles(bv)
                    diff = abs(quartiles(nv)[1] - bq[1])
                    v = ("better" if pairs and wins >= 0.9 * len(pairs)
                         and diff > bq[2] - bq[0] else "same")
            fmt = lambda q: f"{q[1]:.5g} [{q[0]:.5g}, {q[2]:.5g}]"
            print(f"{key[0]:<20} {name:<42} {fmt(quartiles(bv)):>34} "
                  f"{fmt(quartiles(nv)):>34} {rate:>5}  {v}")


if __name__ == "__main__":
    main()
