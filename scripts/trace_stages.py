#!/usr/bin/env python3
"""Per-phase and per-stage layer split of one traced benchmark run.

  python3 scripts/trace_stages.py <trace.json> [phase]

`<trace.json>` is the record a `perfbench/run.py --trace 1` run leaves in
`.bench_build/traces/<workload>-seed<n>.json`. For every traced op the script
prints one row per phase span: wall, Spark jobs, tasks, executor CPU, and
shuffle read/write bytes. With a phase name it also prints that phase's
stages (job, stage, attempt, tasks, executor run and CPU, shuffle bytes, GC).
Jobs are attributed to a phase by their start time and stages to the first
job that lists them, the same rules as the benchmark's per-layer metrics
(`perfbench/stats.py`).
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import stats  # noqa: E402


def phase_rows(rec, eng):
    """(op id, phase span, counters) for every phase span of every op."""
    spans = rec.get("spans", [])
    for op in (s for s in spans if s["name"] == "op"):
        for sp in sorted((s for s in spans if s["parent"] == op["id"]), key=lambda s: s["start_ms"]):
            yield op["op"], sp, eng.counters(sp["start_ms"], sp["end_ms"])


def main(argv):
    if len(argv) not in (1, 2):
        raise SystemExit(__doc__.strip().split("\n\n")[1])
    with open(argv[0]) as f:
        rec = json.load(f)
    want = argv[1] if len(argv) == 2 else None
    eng = stats.Engine(rec)
    rows = list(phase_rows(rec, eng))
    if want and not any(sp["name"] == want for _, sp, _ in rows):
        raise SystemExit(f"no phase {want!r} in {argv[0]}")
    print(f"{'op':>3} {'phase':<16} {'wall_s':>8} {'jobs':>5} {'tasks':>6} {'cpu_s':>8} "
          f"{'shuf_read_B':>12} {'shuf_write_B':>12}")
    for op, sp, c in rows:
        print(f"{op:>3} {sp['name']:<16} {c['wall_s']:>8.3f} {c['jobs']:>5} {c['tasks']:>6} "
              f"{c['executor_cpu_s']:>8.3f} {c['shuffle_read_bytes']:>12} {c['shuffle_write_bytes']:>12}")
    if not want:
        return
    print(f"\nstages of {want}:")
    print(f"{'op':>3} {'job':>5} {'stage':>6} {'att':>4} {'tasks':>6} {'run_s':>8} {'cpu_s':>8} "
          f"{'shuf_read_B':>12} {'shuf_write_B':>12} {'gc_s':>6}")
    for op, sp, _ in rows:
        if sp["name"] != want:
            continue
        for j in sorted(eng.jobs_in(sp["start_ms"], sp["end_ms"]), key=lambda j: j["id"]):
            for s in eng.by_job.get(j["id"], []):
                print(f"{op:>3} {j['id']:>5} {s['stage']:>6} {s['attempt']:>4} {s['tasks']:>6} "
                      f"{s['run_ms'] / 1000:>8.3f} {s['cpu_ns'] / 1e9:>8.3f} {s['shuffle_read']:>12} "
                      f"{s['shuffle_write']:>12} {s['gc_ms'] / 1000:>6.3f}")


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
        sys.stdout.flush()
    except BrokenPipeError:
        # the reader closed the pipe (`| head`): stop quietly, and point
        # stdout at /dev/null so the interpreter's exit-time flush
        # cannot raise again
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
