#!/usr/bin/env python3
"""Interleaved A/B of the end-to-end benchmark: a git ref against the working tree.

    python3 tools/perf_ab.py <git-ref> --workload ingest --pairs 10 --seeds 601 602 ...

The ref is exported with `git archive` into a temporary directory (the
working tree is never touched), and `perfbench/run.py` runs in each tree
for BENCHMARK.json's `run_seconds`. Pair i uses seed seeds[i % len(seeds)];
the side that runs first alternates from pair to pair, so host drift lands
on both sides alike. The first run in each tree also compiles it, before
run.py starts the measured JVM.

It first prints each side's failed/attempted operations summed over every
run, and how many runs printed no result. Then, for every end-to-end metric
in the working tree's BENCHMARK.json, it prints each side's median and
quartiles, the base's interquartile range over its median, the change in
medians, the bound, how many pairs the working tree won (ties count for
neither side), and a verdict:

  unresolved  the base's IQR/median is wider than the bound and the two
              sides' interquartile ranges overlap;
  gain        at least ten pairs ran, the change won 9/10 of them, its
              median beats the base median by more than the base's
              IQR/median, and the change failed no larger share of
              operations (and lost no more runs) than the base;
  worse       its median is worse than the base's by more than the bound;
  -           otherwise.

A pair whose run on either side failed a check or produced no result is
reported, counts as no win, and is left out of the medians. `--trace 1`
compares the per-layer metrics instead (they have no bounds).
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(ref, dest):
    """Write the tree of `ref` into `dest`/tree via git archive."""
    tree = os.path.join(dest, "tree")
    os.makedirs(tree)
    archive = subprocess.Popen(["git", "archive", "--format=tar", ref],
                               cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"perf_ab: git archive {ref} failed")
    return tree


def run(tree, workload, seed, seconds, trace):
    """One benchmark run; returns (result dict or None, wall seconds)."""
    t = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=tree, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is None:
        sys.stderr.write(p.stderr[-2000:])
    return result, time.time() - t


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref", help="git ref of the base side (e.g. HEAD~1)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["per_layer" if a.trace else "end_to_end"]

    tmp = tempfile.mkdtemp(prefix="perf_ab_")
    try:
        trees = {"base": export(a.ref, tmp), "change": ROOT}
        runs = []
        for i in range(a.pairs):
            seed = a.seeds[i % len(a.seeds)]
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"pair": i, "seed": seed}
            for side in order:
                result, wall = run(trees[side], a.workload, seed, seconds, a.trace)
                pair[side] = result
                ok = result is not None and result.get("correct")
                print(f"pair {i} seed {seed} {side:6s} {wall:6.1f} s "
                      f"{'ok' if ok else 'FAILED'}", file=sys.stderr, flush=True)
            runs.append(pair)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    good = [r for r in runs if all(r[s] is not None and r[s].get("correct")
                                   for s in ("base", "change"))]
    print(f"{a.workload}: {a.ref} (base) vs working tree (change); seeds "
          f"{' '.join(map(str, a.seeds))}; {len(good)}/{len(runs)} pairs with both "
          f"sides correct; --seconds {seconds} --trace {a.trace}")
    for r in runs:
        if r not in good:
            print(f"  pair {r['pair']} (seed {r['seed']}) left out: a run failed")
    sides = ("base", "change")
    fails = {s: sum(r[s]["failed"] for r in runs if r[s]) for s in sides}
    tries = {s: sum(r[s]["attempted"] for r in runs if r[s]) for s in sides}
    lost = {s: sum(r[s] is None for r in runs) for s in sides}
    share = {s: fails[s] / tries[s] if tries[s] else 0.0 for s in sides}
    print(f"failed/attempted over all runs: base {fails['base']}/{tries['base']}, "
          f"change {fails['change']}/{tries['change']}; runs without a result: "
          f"base {lost['base']}, change {lost['change']}")
    fails_more = share["change"] > share["base"] or lost["change"] > lost["base"]
    if len(good) < 2:
        print("too few complete pairs for statistics")
        sys.exit(1)
    print(f"{'metric':34s} {'base median [q1, q3]':30s} {'change median [q1, q3]':30s} "
          f"{'base IQR/med':>12s} {'delta':>8s} {'bound':>6s} {'wins':>6s}  verdict")
    for m in metrics:
        name, better = m["name"], m["better"]
        b = [r["base"]["metrics"][name]["value"] for r in good]
        c = [r["change"]["metrics"][name]["value"] for r in good]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum((y > x) if better == "higher" else (y < x) for x, y in zip(b, c))
        iqr = (bq[2] - bq[0]) / bq[1] if bq[1] else float("nan")
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        gain = -delta if better == "lower" else delta
        overlap = cq[0] <= bq[2] and bq[0] <= cq[2]
        if "bound" in m and iqr > m["bound"] and overlap:
            verdict = "unresolved"
        elif (len(runs) >= 10 and wins >= 0.9 * len(runs) and gain > iqr
              and not fails_more):
            verdict = "gain"
        elif "bound" in m and -gain > m["bound"]:
            verdict = "worse"
        else:
            verdict = "-"
        bound = f"{m['bound']:.2f}" if "bound" in m else "-"
        print(f"{name:34s} " + f"{bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]".ljust(30)
              + " " + f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(30)
              + f" {iqr:12.3f} {delta:+8.3f} {bound:>6s} {wins:3d}/{len(good)}  {verdict}")


if __name__ == "__main__":
    main()
