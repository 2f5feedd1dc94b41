#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by workload.

Usage:

    python3 perfbench/compare.py BASE CHANGE [--trace 0|1] [--spec BENCHMARK.json]
    python3 perfbench/compare.py --overhead RUNS

BASE and CHANGE are results files written by run.py (.bench_build/results.jsonl,
one JSON record per run), or directories holding one. Runs pair up by seed
when both sides used the same seeds, otherwise in the order they were made.

For each workload and metric it prints both sides' median and quartiles
(statistics.quantiles, n=4), the ratio CHANGE/BASE with its base, the
fraction of pairs CHANGE won (ties count for neither side), the base's own
spread (quartile distance over median) and a verdict against the bound in
BENCHMARK.json:

  better      CHANGE won at least 9 in 10 pairs and the medians differ by
              more than the base's spread
  worse       CHANGE's median is worse than BASE's by more than the bound
  same        within the bound
  unresolved  the base's spread is wider than the bound, and neither side
              won every pair

With --overhead and one set of runs it prints, per workload, the tracing
overhead: the median time of the traced runs' pass (trace.batch_s) against
the median batch_s of the untraced runs, as a difference and a ratio.
"""
import argparse
import json
import os
import statistics
import sys


def load(path, trace):
    if os.path.isdir(path):
        path = os.path.join(path, "results.jsonl")
    runs = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if int(r.get("trace", 0)) != trace:
                continue
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    sa, sb = [r["seed"] for r in a], [r["seed"] for r in b]
    if sorted(sa) == sorted(sb) and len(set(sa)) == len(sa):
        by_seed = {r["seed"]: r for r in b}
        return [(r, by_seed[r["seed"]]) for r in a]
    return list(zip(a, b))


def overhead(path):
    plain, traced = load(path, 0), load(path, 1)
    print(f"{'workload':<15} {'untraced batch_s':>17} {'traced pass':>12} {'overhead_s':>11} {'ratio':>7}")
    for w in sorted(set(plain) & set(traced)):
        p = statistics.median(r["result"]["metrics"]["batch_s"]["value"] for r in plain[w])
        t = statistics.median(r["result"]["metrics"]["trace.batch_s"]["value"] for r in traced[w])
        print(f"{w:<15} {p:>17.3f} {t:>12.3f} {t - p:>11.3f} {t / p:>7.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                   "..", "BENCHMARK.json"))
    a = ap.parse_args()
    if a.overhead:
        return overhead(a.base)
    if a.change is None:
        ap.error("give two sets of runs, or one with --overhead")
    with open(a.spec) as f:
        spec = json.load(f)
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    base, change = load(a.base, a.trace), load(a.change, a.trace)
    print(f"{'workload':<15} {'metric':<34} {'base median [q1, q3]':<34} {'change median [q1, q3]':<34} "
          f"{'ratio':>7} {'won':>7} {'spread':>7}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        if w not in base or w not in change:
            continue
        ps = pairs(base[w], change[w])
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            va = [r["result"]["metrics"][name]["value"] for r in base[w]]
            vb = [r["result"]["metrics"][name]["value"] for r in change[w]]
            qa, qb = quartiles(va), quartiles(vb)
            wins = losses = 0
            for ra, rb in ps:
                x, y = ra["result"]["metrics"][name]["value"], rb["result"]["metrics"][name]["value"]
                if x != y:
                    if (y < x) == lower:
                        wins += 1
                    else:
                        losses += 1
            decided = wins + losses
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            spread = (qa[2] - qa[0]) / qa[1] if qa[1] else float("nan")
            worse_by = (ratio - 1) if lower else (1 - ratio)
            verdict = "same"
            if "bound" in m:
                if decided and wins >= 0.9 * len(ps) and abs(ratio - 1) > spread:
                    verdict = "better"
                elif worse_by > m["bound"]:
                    verdict = "worse"
                elif spread > m["bound"] and wins != len(ps) and losses != len(ps):
                    verdict = "unresolved"
            else:
                verdict = "-"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{w:<15} {name:<34} {fmt(qa):<34} {fmt(qb):<34} {ratio:>7.3f} "
                  f"{wins}/{len(ps):<5} {spread:>7.3f}  {verdict}")
    print(f"ratio = change median / base median (base = BASE); won = pairs where CHANGE was better; "
          f"spread = base (q3 - q1) / median", file=sys.stderr)


if __name__ == "__main__":
    main()
