#!/usr/bin/env python3
"""Compare two sets of benchmark runs, A (the parent) and B (the change).

    python3 perfbench/compare.py A_DIR B_DIR

Each directory holds run records written by `run.py --record`. Per
workload and end-to-end metric it prints each side's median and
quartiles, the share of pairs B won (pairs match by seed; with no
seed in common, every A run is paired with every B run), and a verdict:
  improved    B wins at least 9 in 10 pairs and the medians differ by
              more than A's quartile spread;
  unresolved  A's own quartile spread is wider than the bound and not
              every B run beats every A run;
  no worse    B's median is within the metric's bound of A's;
  worse       B's median is beyond the bound.
Metrics a record holds beyond BENCHMARK.json's list are printed after
it without a verdict. Traced runs (--trace 1) in the sets give the
per-layer medians, printed after the end-to-end table of each workload
with their change.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    runs = []
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if "context" in r and "result" in r:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, bound, lower_better):
    """(verdict, share of pairs B won) for value lists keyed by seed."""
    sign = 1 if lower_better else -1
    seeds = sorted(set(a) & set(b))
    if seeds:
        pairs = [(a[s], b[s]) for s in seeds]
    else:
        pairs = [(x, y) for x in a.values() for y in b.values()]
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) > 0)
    won = wins / len(pairs) if pairs else 0.0
    qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
    ma, mb = qa[1], qb[1]
    spread_a = qa[2] - qa[0]
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    if won >= 0.9 and losses < len(pairs) and abs(mb - ma) > spread_a and sign * (mb - ma) < 0:
        return "improved", won
    # A spread wider than the bound cannot show "no worse" (nor
    # "worse"), unless every B run reads better than every A run.
    b_all_better = max(sign * y for y in b.values()) < min(sign * x for x in a.values())
    if ma and spread_a / abs(ma) > bound and not b_all_better:
        return "unresolved", won
    return ("no worse" if worse_by <= bound else "worse"), won


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sides = [load(d) for d in sys.argv[1:]]
    workloads = [w["name"] for w in bench["workloads"]]
    for w in workloads:
        untraced = [{r["context"]["seed"]: r for r in runs
                     if r["context"]["workload"] == w and not r["context"]["trace"]}
                    for runs in sides]
        traced = [[r for r in runs if r["context"]["workload"] == w and r["context"]["trace"]]
                  for runs in sides]
        if not (untraced[0] and untraced[1]) and not (traced[0] and traced[1]):
            continue
        print(f"\n== {w}  (A: {len(untraced[0])} runs, B: {len(untraced[1])} runs)")
        print(f"{'metric':<20}{'A q1/median/q3':>30}{'B q1/median/q3':>30}{'change':>9}"
              f"{'B won':>7}  verdict")
        recorded = [n for r in untraced[0].values() for n in r["end_to_end"]]
        for name in list(metrics) + sorted(set(recorded) - set(metrics)):
            a = {s: r["end_to_end"][name] for s, r in untraced[0].items()
                 if name in r["end_to_end"]}
            b = {s: r["end_to_end"][name] for s, r in untraced[1].items()
                 if name in r["end_to_end"]}
            if not a or not b:
                continue
            qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
            m = metrics.get(name)
            lower = m["better"] == "lower" if m else not name.startswith("throughput")
            v, won = verdict(a, b, m["bound"] if m else 0.0, lower)
            if m is None:
                v = "(no bound)"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:<20}{fmt(qa):>30}{fmt(qb):>30}"
                  f"{(qb[1] - qa[1]) / qa[1]:>+9.1%}{won:>7.0%}  {v}")
        if traced[0] and traced[1]:
            print(f"  per layer (traced medians, A: {len(traced[0])}, B: {len(traced[1])} runs)")
            names = sorted(set(traced[0][0]["per_layer"]) & set(traced[1][0]["per_layer"]))
            for n in names:
                ma = statistics.median(r["per_layer"][n] for r in traced[0])
                mb = statistics.median(r["per_layer"][n] for r in traced[1])
                if ma == 0 and mb == 0:
                    continue
                rel = f"{(mb - ma) / ma:+.1%}" if ma else "new"
                print(f"  {n:<40}{ma:>14.4g}{mb:>14.4g}{rel:>9}")


if __name__ == "__main__":
    main()
