#!/usr/bin/env python3
"""Compares two sets of benchmark runs, A (parent) and B (change).

    python3 perfbench/compare.py <runs of A> <runs of B>

Each argument is a directory holding the `record.json` files that
`perfbench/run.py` leaves in `.bench_build/runs/<run>/` (copy them aside
between commits). For every workload x end-to-end metric it prints both
medians and quartiles, the fraction of pairs B won (the i-th run of each
side form a pair; ties count for neither), and a verdict:

- improved: B wins at least 9 in 10 pairs and the medians differ by more
  than A's own quartile spread;
- no worse: B's median is within the metric's bound of A's, and both
  sides' spreads are within the bound (or every B run beats every A run);
- worse: B's median is worse than A's by more than the bound;
- unresolved: a spread is wider than the bound, or a side has no runs.

A run with a failed execution is never merged: it is listed and left out.
Traced runs (`--trace 1`) give a per-layer table of median deltas.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load_runs(directory):
    runs, failed = defaultdict(list), []
    for path in sorted(Path(directory).rglob("record.json")):
        r = json.loads(path.read_text())
        if r["failed"] or not r["correct"]:
            failed.append(f"{path.parent.name}: {r['failed']}/{r['attempted']} failed")
            continue
        runs[(r["workload"], r["trace"])].append(r)
    return runs, failed


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    """Verdict for B against A on one metric; `a` and `b` are run values."""
    if not a or not b:
        return "unresolved", None
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    pairs = min(len(a), len(b))
    won = wins / pairs
    a1, am, a3 = quartiles(a)
    b1, bm, b3 = quartiles(b)
    gain = sign * (bm - am)
    if won >= 0.9 and gain > a3 - a1:
        return "improved", won
    spread = max((a3 - a1) / abs(am) if am else 0, (b3 - b1) / abs(bm) if bm else 0)
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if spread > bound and not all_better:
        return "unresolved", won
    if am and -gain / abs(am) > bound:
        return "worse", won
    return "no worse", won


def fmt(x):
    return f"{x:.4g}" if isinstance(x, (int, float)) else str(x)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    (a_runs, a_failed), (b_runs, b_failed) = load_runs(argv[0]), load_runs(argv[1])
    for side, failed in (("A", a_failed), ("B", b_failed)):
        for f in failed:
            print(f"{side} run left out, it has failures: {f}")
    workloads = sorted({w for w, t in list(a_runs) + list(b_runs) if t == 0})
    print(f"{'workload':16} {'metric':18} {'A median [q1, q3]':>28} "
          f"{'B median [q1, q3]':>28} {'B won':>6}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in a_runs[(w, 0)]]
            b = [r["metrics"][m["name"]]["value"] for r in b_runs[(w, 0)]]
            a = [x for x in a if x is not None]
            b = [x for x in b if x is not None]
            v, won = verdict(a, b, m["better"], m["bound"])
            cols = []
            for xs in (a, b):
                if xs:
                    q1, q2, q3 = quartiles(xs)
                    cols.append(f"{fmt(q2)} [{fmt(q1)}, {fmt(q3)}] n={len(xs)}")
                else:
                    cols.append("no runs")
            print(f"{w:16} {m['name']:18} {cols[0]:>28} {cols[1]:>28} "
                  f"{fmt(won) if won is not None else '-':>6}  {v}")
    traced = sorted({w for w, t in list(a_runs) + list(b_runs) if t == 1})
    for w in traced:
        a, b = a_runs[(w, 1)], b_runs[(w, 1)]
        if not a or not b:
            continue
        print(f"\nper-layer medians, {w} (A n={len(a)}, B n={len(b)}):")
        for name in a[0]["metrics"]:
            av = [r["metrics"][name]["value"] for r in a if r["metrics"][name]["value"] is not None]
            bv = [r["metrics"][name]["value"] for r in b if r["metrics"][name]["value"] is not None]
            if not av or not bv:
                continue
            am, bm = statistics.median(av), statistics.median(bv)
            if am == bm == 0:
                continue
            ratio = f"{bm / am:.3f}x" if am else "-"
            print(f"  {name:40} {fmt(am):>12} -> {fmt(bm):>12}  "
                  f"delta {fmt(bm - am):>10}  {ratio} {a[0]['metrics'][name]['unit']}")


if __name__ == "__main__":
    main(sys.argv[1:])
