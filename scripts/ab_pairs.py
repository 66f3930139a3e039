#!/usr/bin/env python3
"""Paired A/B of the benchmark between two checkouts.

  python3 scripts/ab_pairs.py --parent <dir> --change <dir> --workload fit_small \
      --pairs 10 [--first-seed 1] [--seconds S] [--json out.json]

Each pair runs `perfbench/run.py --trace 0` once in each checkout on the same
seed (pair i uses seed first_seed + i); the side that runs first alternates
between pairs. `--seconds` defaults to `run_seconds` in the change's
BENCHMARK.json. For every end-to-end metric that BENCHMARK.json declares it
prints each side's median and quartiles, the change's win fraction (ties
count for neither side), the parent's inter-quartile distance, the change of
the median against the parent's and the metric's bound, and every pair. A
gain is claimable when the change wins at least 9/10 of the pairs and the
medians differ by more than the parent's inter-quartile distance.
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import stats  # noqa: E402


def run(checkout, workload, seed, seconds):
    """One measured run in `checkout`; the result line of run.py."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def better(metric, change, parent):
    """+1 when the change's value is better, -1 when worse, 0 on a tie."""
    if change == parent:
        return 0
    lower = metric["better"] == "lower"
    return 1 if (change < parent) == lower else -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--json", help="write every run's result here")
    a = ap.parse_args()
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]

    pairs = []
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        res = {side: run(d, a.workload, seed, seconds) for side, d in order}
        pairs.append({"seed": seed, "first": order[0][0], **res})
        print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0][0]} first): " + "  ".join(
            f"{side} correct={pairs[-1][side]['correct']} failed={pairs[-1][side]['failed']}/"
            f"{pairs[-1][side]['attempted']}" for side in ("parent", "change")), flush=True)

    print(f"\n{a.workload}: {len(pairs)} pairs, run_seconds {seconds:g}")
    for m in bench["end_to_end"]:
        name = m["name"]
        p = [r["parent"]["metrics"][name]["value"] for r in pairs]
        c = [r["change"]["metrics"][name]["value"] for r in pairs]
        pq, cq = stats.quartiles(p), stats.quartiles(c)
        wins = sum(better(m, y, x) > 0 for x, y in zip(p, c))
        iqr = pq[2] - pq[0]
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        worse = -rel if m["better"] == "higher" else rel
        claim = wins >= 0.9 * len(pairs) and abs(cq[1] - pq[1]) > iqr
        print(f"  {name} ({m['unit']}, {m['better']} is better, bound {m['bound']:g})")
        print(f"    parent median {pq[1]:.6g}  q1 {pq[0]:.6g}  q3 {pq[2]:.6g}  iqr {iqr:.6g}")
        print(f"    change median {cq[1]:.6g}  q1 {cq[0]:.6g}  q3 {cq[2]:.6g}")
        print(f"    change wins {wins}/{len(pairs)}  median change {rel:+.1%}  "
              f"gain claimable: {'yes' if claim else 'no'}  "
              f"{'WORSE THAN BOUND' if worse > m['bound'] else 'within bound'}")
        print("    pairs (parent -> change): " + ", ".join(
            f"{x:.4g}->{y:.4g}" for x, y in zip(p, c)))
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "pairs": pairs}, f, indent=1)


if __name__ == "__main__":
    main()
