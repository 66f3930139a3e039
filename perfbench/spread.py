#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: runs one workload once per seed and
reports, per metric, the median, the quartiles and the inter-quartile
distance as a share of the median (the figure BENCHMARK.json's bounds are
set against).

  python3 perfbench/spread.py --workload fit_small --seeds 1-10 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    a = ap.parse_args()
    runs, walls = [], []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(s), "--seconds", a.seconds,
                              "--trace", "0"], stdout=subprocess.PIPE, text=True, check=True)
        walls.append(time.monotonic() - t0)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {s}: {walls[-1]:.1f} s, correct={res['correct']} attempted={res['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
    print(f"{a.workload}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}, "
          f"run wall median {stats.median(walls):.1f} s, max {max(walls):.1f} s")
    for m in runs[0]["metrics"]:
        xs = [r["metrics"][m]["value"] for r in runs]
        q1, q2, q3 = stats.quartiles(xs)
        print(f"  {m:<34} median {q2:<12.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} "
              f"spread {stats.spread(xs) if q2 else 0.0:.4f}")


if __name__ == "__main__":
    main()
