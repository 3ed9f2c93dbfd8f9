#!/usr/bin/env python3
"""Alternating parent/change comparison over perfbench.

    python3 tools/ab.py <parent_dir> <change_dir> --workload knn --seeds 11-20
    python3 tools/ab.py <parent_dir> <change_dir> --workload ingest,knn,query_mix

For each seed in the inclusive range, runs `python3 perfbench/run.py
--workload W --seed S --seconds N --trace 0` once in each checkout, N being
BENCHMARK.json's run_seconds (the parent first on even pairs, the change
first on odd ones). A comma-separated --workload runs the workloads one
after the other. Then prints, per workload, for every end-to-end metric in the
change's BENCHMARK.json: each side's median and quartiles, the parent's IQR,
the change's win count (ties count for neither), whether the pairs support
a gain (wins >= 9/10 of pairs and median gap > parent IQR), and a
no-regression verdict against the metric's `bound` in BENCHMARK.json:
`worse` when the change's median is worse than the parent's by more than
bound x the parent's median; otherwise `unresolved` when the parent's IQR
exceeds bound x the parent's median and not every change run beats every
parent run; otherwise `within`. Failed operations
are summed per side. A run that exits non-zero, or prints no result, is
reported with its seed, side and exit code; its pair is left out of the
quartiles and win counts, and each side's crashed runs are counted next to its
failed operations. Reads only perfbench's result line; writes nothing.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None, p.returncode
    return json.loads(lines[-1]), 0


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def regression(p, c, med, iqr, bound, lower):
    """`worse`, `unresolved` or `within` (see the module doc)."""
    worse_by = (statistics.median(c) - med) if lower else (med - statistics.median(c))
    if worse_by > bound * abs(med):
        return "worse"
    beats_all = max(c) < min(p) if lower else min(c) > max(p)
    if iqr > bound * abs(med) and not beats_all:
        return "unresolved"
    return "within"


def compare(sides, workload, spec, first, last):
    """Runs the alternating pairs of one workload and prints its table."""
    seconds = spec["run_seconds"]
    results = {"parent": [], "change": []}
    crashed = {"parent": 0, "change": 0}
    for i, seed in enumerate(range(first, last + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            r, code = run(sides[side], workload, seed, seconds)
            if r is None:
                crashed[side] += 1
                print(f"seed {seed} {side}: CRASHED, exit code {code}",
                      file=sys.stderr, flush=True)
                continue
            pair[side] = r
            vals = " ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items())
            print(f"seed {seed} {side}: failed={r['failed']}/{r['attempted']} {vals}",
                  file=sys.stderr, flush=True)
        if len(pair) == 2:
            for side in pair:
                results[side].append(pair[side])

    pairs = len(results["parent"])
    dropped = last + 1 - first - pairs
    print(f"{workload}: {pairs} pairs, {seconds:g} s runs"
          + (f" ({dropped} pairs with a crashed run left out)" if dropped else ""))
    if pairs < 2:
        print("too few complete pairs for quartiles")
    else:
        print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
              f"{'parent IQR':>10} {'gap':>8} {'wins':>6}  gain  no-regression")
    for m in spec["end_to_end"] if pairs >= 2 else []:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        pq, cq = quartiles(p), quartiles(c)
        iqr = pq[2] - pq[0]
        gap = cq[1] - pq[1]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        gain = wins * 10 >= pairs * 9 and abs(gap) > iqr and (gap < 0) == lower
        verdict = regression(p, c, pq[1], iqr, m["bound"], lower)
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:<12} {fmt(pq):>26} {fmt(cq):>26} {iqr:>10.4g} "
              f"{gap / pq[1]:>+8.1%} {wins:>3}/{pairs:<2}  {'yes' if gain else 'no':<4}  "
              f"{verdict}")
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in results[side])
        attempted = sum(r["attempted"] for r in results[side])
        print(f"{side}: {failed} of {attempted} operations failed, "
              f"{crashed[side]} runs crashed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True,
                    help="a workload, or a comma-separated list of them")
    ap.add_argument("--seeds", default="11-20", help="first-last, inclusive")
    a = ap.parse_args()
    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    first, last = (int(x) for x in a.seeds.split("-"))
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    for i, workload in enumerate(w for w in a.workload.split(",") if w):
        if i:
            print(flush=True)
        compare(sides, workload, spec, first, last)


if __name__ == "__main__":
    main()
