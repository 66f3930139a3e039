"""Statistics over a harness record: medians and percentiles, the union of
job intervals, span self time, and the end-to-end and per-layer metrics.
Pure functions of the record, so they are tested without Spark."""
import math
import statistics

PHASES = ["ingest", "seed", "lloyd", "assign", "export", "canonical", "chunk_groups",
          "chunk_stats", "simhash", "chunk_canonical", "jaccard_prefix"]
DEDUP = PHASES[5:]
PHASE_COUNTERS = [("jobs", "count"), ("tasks", "count"), ("driver_only_s", "s"),
                  ("executor_cpu_s", "s"), ("shuffle_write_bytes", "bytes")]

# per-layer metrics: name -> unit; every traced run reports all of them
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_union_s": "s", "spark.driver_only_s": "s", "spark.driver_only_frac": "ratio",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.busy_frac": "ratio",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "sources.ingest_s": "s", "sources.ingest_tasks": "count", "sources.export_s": "s",
    "sources.export_files": "count", "sources.export_bytes": "bytes",
    "sources.scratch_build_s": "s", "sources.scratch_read_s": "s",
    "sources.scratch_files": "count",
    "kmeans.seed_s": "s", "kmeans.seed_jobs": "count", "kmeans.lloyd_s": "s",
    "kmeans.lloyd_iters": "count", "kmeans.lloyd_s_per_iter": "s",
    "kmeans.lloyd_jobs_per_iter": "count", "kmeans.lloyd_driver_only_s": "s",
    "kmeans.assign_s": "s",
    "plans.dist_evals": "count", "plans.computed_bytes_per_iter": "bytes",
    "plans.dist_evals_per_cpu_s": "1/s",
    **{f"operators.dedup.{p}_s": "s" for p in DEDUP},
    **{f"{p}.{c}": u for p in PHASES for c, u in PHASE_COUNTERS},
    "trace.op_p50_s": "s", "trace.span_cover_frac": "ratio",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(Q1, median, Q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` [(start, end)], clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> duration minus the part of its interval its children cover
    (children may nest or overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_length([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                             s["start_ms"], s["end_ms"])
        out[s["id"]] = s["end_ms"] - s["start_ms"] - cover
    return out


def end_to_end(rec):
    ops = rec["ops"]
    walls = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ops]
    failed = sum(1 for o in ops if not o["ok"])
    return {
        "op_p50_s": (median(walls), "s"),
        "rows_per_s": (rec["rows_per_op"] * len(ops) / sum(walls) if walls else 0.0, "rows/s"),
        "setup_s": (rec["setup_s"], "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "failed_frac": (failed / len(ops) if ops else 1.0, "ratio"),
        "ops": (len(ops), "count"),
    }


class Engine:
    """Jobs, stage metrics and SQL executions of a traced record, with
    each completed stage attempt charged to the first job that lists it."""

    def __init__(self, rec):
        self.jobs = [j for j in rec.get("jobs", []) if j["end_ms"] >= 0]
        owner = {}
        for j in sorted(self.jobs, key=lambda j: j["id"]):
            for s in j["stages"]:
                owner.setdefault(s, j["id"])
        self.by_job = {}
        for st in rec.get("stages", []):
            if st["stage"] in owner:
                self.by_job.setdefault(owner[st["stage"]], []).append(st)
        self.writes = [q for q in rec.get("sql", []) if q["scratch_write"] and q["end_ms"] >= 0]
        self.execs = rec.get("execs", [])

    def jobs_in(self, lo, hi):
        return [j for j in self.jobs if lo <= j["start_ms"] <= hi]

    def counters(self, lo, hi):
        jobs = self.jobs_in(lo, hi)
        st = [s for j in jobs for s in self.by_job.get(j["id"], [])]
        wall = (hi - lo) / 1000.0
        union = union_length([(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi) / 1000.0
        return {
            "wall_s": wall, "jobs": len(jobs), "stages": len(st),
            "tasks": sum(s["tasks"] for s in st), "job_union_s": union,
            "driver_only_s": wall - union,
            "executor_run_s": sum(s["run_ms"] for s in st) / 1000.0,
            "executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "spill_bytes": sum(s["spill"] for s in st),
            "gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        }

    def scratch_spans(self, lo, hi):
        """(start, end) of each SQL execution started in [lo, hi] that wrote
        a Scratch materialization."""
        return [(q["start_ms"], q["end_ms"]) for q in self.writes if lo <= q["start_ms"] <= hi]

    def scratch_read_s(self, lo, hi):
        """Scan time of reads of Scratch materializations by queries that
        finished in [lo, hi] (summed over tasks)."""
        return sum(e["scratch_scan_ms"] for e in self.execs if lo <= e["at_ms"] <= hi) / 1000.0


def with_scratch_spans(spans, engine):
    """The harness's spans plus one `scratch_build` span per Scratch write,
    parented to the innermost harness span that contains its start."""
    out = list(spans)
    nid = max((s["id"] for s in spans), default=-1) + 1
    for s, e in engine.scratch_spans(-math.inf, math.inf):
        inside = [p for p in spans if p["start_ms"] <= s <= p["end_ms"]]
        if not inside:
            continue
        parent = max(inside, key=lambda p: p["start_ms"])
        out.append({"id": nid, "name": "scratch_build", "parent": parent["id"],
                    "op": parent["op"], "start_ms": s, "end_ms": min(e, parent["end_ms"])})
        nid += 1
    return out


def per_op_layers(rec):
    """One dict of per-layer values for each traced op."""
    eng = Engine(rec)
    cores = rec["cores"]
    spans = rec.get("spans", [])
    ops = {o["id"]: o for o in rec["ops"]}
    rows = []
    for op in (s for s in spans if s["name"] == "op" and s["op"] in ops):
        lo, hi = op["start_ms"], op["end_ms"]
        c = ops[op["op"]]["counters"]
        tot = eng.counters(lo, hi)
        v = {f"spark.{k}": tot[k] for k in ("jobs", "stages", "tasks", "job_union_s",
                                             "driver_only_s", "executor_run_s", "executor_cpu_s",
                                             "shuffle_read_bytes", "shuffle_write_bytes",
                                             "spill_bytes", "gc_s")}
        v["spark.driver_only_frac"] = tot["driver_only_s"] / tot["wall_s"]
        v["spark.busy_frac"] = tot["executor_run_s"] / (tot["wall_s"] * cores)
        phase = {}
        kids = [s for s in spans if s["parent"] == op["id"]]
        for p in PHASES:
            sp = [s for s in kids if s["name"] == p]
            pc = eng.counters(sp[0]["start_ms"], sp[0]["end_ms"]) if sp else None
            phase[p] = pc
            for cn, _ in PHASE_COUNTERS:
                v[f"{p}.{cn}"] = pc[cn] if pc else 0.0
        wall = lambda p: phase[p]["wall_s"] if phase[p] else 0.0
        builds = eng.scratch_spans(lo, hi)
        n, k, d = c.get("n", 0.0), c.get("k", 0.0), c.get("d", 0.0)
        iters = c.get("lloyd_iters", 0.0)
        v.update({
            "sources.ingest_s": wall("ingest"),
            "sources.ingest_tasks": phase["ingest"]["tasks"] if phase["ingest"] else 0.0,
            "sources.export_s": wall("export"),
            "sources.export_files": c.get("export_files", 0.0),
            "sources.export_bytes": c.get("export_bytes", 0.0),
            "sources.scratch_build_s": union_length(builds, lo, hi) / 1000.0,
            "sources.scratch_read_s": eng.scratch_read_s(lo, hi),
            "sources.scratch_files": c.get("scratch_files", 0.0),
            "kmeans.seed_s": wall("seed"),
            "kmeans.seed_jobs": v["seed.jobs"],
            "kmeans.lloyd_s": wall("lloyd"),
            "kmeans.lloyd_iters": iters,
            "kmeans.lloyd_s_per_iter": wall("lloyd") / iters if iters else 0.0,
            "kmeans.lloyd_jobs_per_iter": v["lloyd.jobs"] / iters if iters else 0.0,
            "kmeans.lloyd_driver_only_s": v["lloyd.driver_only_s"],
            "kmeans.assign_s": wall("assign"),
            "plans.computed_bytes_per_iter": n * d * 8,
            "trace.op_p50_s": tot["wall_s"],
            "trace.span_cover_frac": sum(wall(p) for p in PHASES) / tot["wall_s"],
        })
        for p in DEDUP:
            v[f"operators.dedup.{p}_s"] = wall(p)
        if phase["lloyd"]:
            fit_evals = n * k * ((k - 1) + iters)
            cpu = v["seed.executor_cpu_s"] + v["lloyd.executor_cpu_s"]
            v["plans.dist_evals"] = fit_evals + n * k  # + the final assign pass
            v["plans.dist_evals_per_cpu_s"] = fit_evals / cpu if cpu else 0.0
        else:
            # export_csv evaluates the assignment in the summary and the export pass
            v["plans.dist_evals"] = 2 * n * k if phase["assign"] else 0.0
            v["plans.dist_evals_per_cpu_s"] = 0.0
        rows.append(v)
    return rows


def per_layer(rec):
    rows = per_op_layers(rec)
    return {m: (median([r[m] for r in rows]), u) for m, u in PER_LAYER.items()}


def span_self_times(rec):
    """span name -> median self seconds over ops (scratch builds included)."""
    spans = with_scratch_spans(rec.get("spans", []), Engine(rec))
    st = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], {}).setdefault(s["op"], 0.0)
        by[s["name"]][s["op"]] += st[s["id"]] / 1000.0
    return {name: median(list(per_op.values())) for name, per_op in by.items()}
