#!/usr/bin/env python3
"""A/B comparison of two checkouts on one workload, by the rule the
benchmark's README states (alternating pairs, medians and quartiles,
fraction of pairs won, bound per metric, per-layer diff).

Usage:

    python3 perfbench/compare.py --parent ../parent --change . \\
        --workload search_batch --pairs 10 --first-seed 1000

Each side runs its own `perfbench/run.py` from its checkout root, with
the run length of the change's BENCHMARK.json. Pair i uses seed
first-seed + i on both sides; even pairs run the parent first, odd
pairs the change first; the rule needs at least ten pairs. After the
timed pairs, each side makes three traced runs; the per-layer table
lists every counter whose median moved, largest relative move first, so
a regression names its layer.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

TRACED_RUNS = 3
MIN_PAIRS = 10
# A search_batch run times two 16-query batches, so its latency_p50_s is
# their mean and its throughput_per_s is 16 divided by it: one figure,
# which gets one verdict.
SAME_FIGURE = {"search_batch": {"throughput_per_s": "latency_p50_s"}}


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"compare: {checkout} failed on seed {seed} (exit {p.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"compare: {checkout} gave incorrect output on seed {seed}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """The rule: a gain needs >= 9/10 of pairs won and a median move
    larger than the parent's own quartile spread; a regression is a
    median worse by more than the bound; otherwise a spread wider than
    the bound is unresolved unless every change run beats every parent
    run."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    spread = (pq3 - pq1) / pmed if pmed else float("inf")
    worse = sign * (pmed - cmed) / pmed if pmed else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if wins >= 0.9 * len(parent) and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return wins, losses, spread, worse, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    a = ap.parse_args()
    if a.pairs < MIN_PAIRS:
        sys.exit(f"compare: the rule needs at least {MIN_PAIRS} pairs, not {a.pairs}")
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run(sides[side], a.workload, seed, seconds, 0))
        print(f"pair {i + 1}/{a.pairs} done (seed {seed}, {order[0]} first)", file=sys.stderr)

    print(f"workload {a.workload}, {a.pairs} pairs, {seconds} s runs")
    print(f"{'metric':<18} {'parent median [q1, q3]':<34} {'change median [q1, q3]':<34} "
          f"{'won':>5} {'lost':>5} {'spread':>7} {'worse':>7} {'bound':>6}  verdict")
    for m in bench["end_to_end"]:
        n = m["name"]
        p = [r[n] for r in runs["parent"]]
        c = [r[n] for r in runs["change"]]
        pq = quartiles(p)
        cq = quartiles(c)
        wins, losses, spread, worse, v = verdict(p, c, m["better"], m["bound"])
        if n in SAME_FIGURE.get(a.workload, {}):
            v = f"(same figure as {SAME_FIGURE[a.workload][n]})"
        print(f"{n:<18} {pq[1]:>10.4f} [{pq[0]:.4f}, {pq[2]:.4f}]{'':<4} "
              f"{cq[1]:>10.4f} [{cq[0]:.4f}, {cq[2]:.4f}]{'':<4} "
              f"{wins:>5} {losses:>5} {spread:>7.3f} {worse:>+7.3f} {m['bound']:>6}  {v}")

    layers = {}
    for side in ("parent", "change"):
        traced = [run(sides[side], a.workload, a.first_seed + i, seconds, 1)
                  for i in range(TRACED_RUNS)]
        layers[side] = {k: statistics.median(r[k] for r in traced) for k in traced[0]}
    rows = []
    for k, pv in layers["parent"].items():
        cv = layers["change"].get(k)
        if cv is None or cv == pv:
            continue
        rel = (cv - pv) / pv if pv else float("inf")
        rows.append((abs(rel), k, pv, cv, rel))
    print(f"\nper-layer medians over {TRACED_RUNS} traced runs per side (moved counters only)")
    for _, k, pv, cv, rel in sorted(rows, reverse=True):
        print(f"  {k:<40} {pv:>14.4f} -> {cv:>14.4f}  {rel:+.1%}")


if __name__ == "__main__":
    main()
