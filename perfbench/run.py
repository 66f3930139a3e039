#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JVM.

  python3 perfbench/run.py --workload fit_small --seed 1 --seconds 10 --trace 0

Builds the program from source (cached in .bench_build), generates the
workload's inputs from the seed, runs a closed loop of ops for --seconds in
one JVM under local[<cores>], checks every output, prints every metric by
name with its unit, and ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics; --trace 1 is the separate traced
run (spans around every phase call plus a SparkListener) and reports the
per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("fit_small", "fit_large", "export_csv", "dedup_corpus")
END_TO_END = ("op_p50_s", "rows_per_s", "setup_s", "peak_rss_mb")
# a fixed heap and young generation, so peak RSS follows the live data and
# not the collector's resizing decisions
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, conf_path, rec_path, log_path):
    """Run the harness; return its exit code."""
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(os.path.dirname(conf_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           *ADD_OPENS, "-cp", cp, "perfbench.Harness", conf_path, rec_path]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait()
        except BaseException:
            p.kill()
            p.wait()
            raise


def canonical_hash(con, sql, columns):
    rows = con.sql(f"SELECT {', '.join(columns)} FROM ({sql})").fetchall()
    rows.sort(key=repr)
    return hashlib.sha256(repr(rows).encode()).hexdigest(), len(rows)


def oracle_result(con, sql, cols, corpus_key):
    """(hash, rows) of the oracle replay, cached per (corpus, SQL, columns):
    the corpus content is fixed and the replay is independent of row order."""
    key = hashlib.sha256(f"{corpus_key}|{sql}|{cols}".encode()).hexdigest()[:24]
    path = os.path.join(build.BUILD, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    res = canonical_hash(con, sql, cols)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(res, f)
    return res


def check_dedup(rec, run_dir, params):
    """Replay each consumer's SparkEntry oracle SQL in DuckDB. The warm-up
    op's written output must hash-match the replay over its slice (a
    run-level check: returns what is wrong, or ""), and every timed op's
    count must equal the replay's row count over the full corpus."""
    import duckdb

    def over(corpus):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
        return con
    slice_con, full_con = over(params["warmup_dir"]), over(params["corpus_dirs"][0])
    errs, run_err = {}, ""
    for phase, q in rec["queries"].items():
        got_sql = f"SELECT * FROM '{run_dir}/check/{q['query']}/*.parquet'"
        cols = sorted(c[0] for c in slice_con.sql(got_sql).description)
        want_hash, want_n = oracle_result(slice_con, q["oracle_sql"], cols, params["warmup_key"])
        got_hash, got_n = canonical_hash(slice_con, got_sql, cols)
        if got_hash != want_hash and not run_err:
            run_err = (f"{q['query']}: warm-up output ({got_n} rows) does not hash-match "
                       f"the oracle ({want_n} rows)")
        _, full_n = oracle_result(full_con, q["oracle_sql"], cols, params["corpus_key"])
        for o in rec["ops"]:
            n = o["counters"].get(f"rows.{phase}")
            if n != full_n and o["id"] not in errs:
                errs[o["id"]] = f"{q['query']}: {n} rows, oracle has {full_n}"
    for o in rec["ops"]:
        if o["id"] in errs:
            o["ok"], o["err"] = False, errs[o["id"]]
    return run_err


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("", "centroid", "row"), default="",
                    help="self-test: perturb each op's result before it is checked")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (run_jvm kills it on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    cores = os.cpu_count() or 1
    run_dir = os.path.join(build.BUILD, "run", f"{a.workload}-{os.getpid()}")
    try:
        t0 = time.monotonic()
        params = gen.generate(a.workload, os.path.join(run_dir, "in"), a.seed, cores)
        gen_s = time.monotonic() - t0
        conf = dict(workload=a.workload, seconds=a.seconds, trace=bool(a.trace), cores=cores,
                    corrupt=a.corrupt, run_dir=run_dir, local_dir=os.path.join(run_dir, "local"),
                    params=params)
        conf_path, rec_path = os.path.join(run_dir, "conf.json"), os.path.join(run_dir, "record.json")
        with open(conf_path, "w") as f:
            json.dump(conf, f)
        log_path = os.path.join(run_dir, "jvm.log")
        code = run_jvm(classes, conf_path, rec_path, log_path)
        if code != 0 or not os.path.exists(rec_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"harness exited with {code}")
        with open(rec_path) as f:
            rec = json.load(f)
        run_err = check_dedup(rec, run_dir, params) if a.workload == "dedup_corpus" else ""
        if a.trace:
            trace_dir = os.path.join(build.BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump(rec, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    e2e = stats.end_to_end(rec)
    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  trace {a.trace}  "
          f"inputs generated in {gen_s:.2f} s (outside setup_s)")
    print("  op walls (s): " + " ".join(f"{(o['end_ms'] - o['start_ms']) / 1000:.3f}" for o in ops))
    for o in ops:
        if not o["ok"]:
            print(f"  op {o['id']} FAILED: {o['err']}")
    if run_err:
        print(f"  run check FAILED: {run_err}")
    shown = e2e if not a.trace else {k: e2e[k] for k in ("ops", "failed_frac")}
    for name, (v, unit) in shown.items():
        print(f"  {name:<34} {v:>16.6g} {unit}")
    if a.trace:
        layers = stats.per_layer(rec)
        for name, (v, unit) in layers.items():
            print(f"  {name:<34} {v:>16.6g} {unit}")
        print("  span self time (median over ops):")
        for name, v in sorted(stats.span_self_times(rec).items()):
            print(f"    {name:<32} {v:>16.6g} s")
        metrics = layers
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
    print(json.dumps({"correct": failed == 0 and len(ops) > 0 and not run_err, "attempted": len(ops),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
