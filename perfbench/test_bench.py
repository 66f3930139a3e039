"""Tests for the benchmark's own code (no Spark needed):

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import statistics
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

import gen
import stats


def span(i, start, end, parent=-1, name="s", op=0):
    return {"id": i, "name": name, "parent": parent, "op": op, "start_ms": start, "end_ms": end}


class Percentiles(unittest.TestCase):
    def test_median_odd_even_empty(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_quartiles_match_statistics_module(self):
        xs = [9.0, 1.0, 5.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles([5.0]), (5.0, 5.0, 5.0))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class Intervals(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(stats.union_length([(0, 3), (1, 2), (2, 5)]), 5)
        self.assertEqual(stats.union_length([(4, 6), (0, 1), (5, 7)]), 4)

    def test_touching_and_empty(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3)]), 0)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)


class SelfTime(unittest.TestCase):
    def test_nested_children(self):
        spans = [span(0, 0, 10), span(1, 1, 4, parent=0), span(2, 2, 3, parent=1),
                 span(3, 6, 9, parent=0)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 10 - 3 - 3)
        self.assertEqual(st[1], 3 - 1)
        self.assertEqual(st[2], 1)
        self.assertEqual(st[3], 3)

    def test_overlapping_children_count_once(self):
        spans = [span(0, 0, 10), span(1, 2, 6, parent=0), span(2, 4, 8, parent=0)]
        self.assertEqual(stats.self_times(spans)[0], 10 - 6)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, 0, 10), span(1, 8, 12, parent=0)]
        self.assertEqual(stats.self_times(spans)[0], 8)


class Engine(unittest.TestCase):
    REC = {
        "cores": 2,
        "jobs": [{"id": 0, "start_ms": 10, "end_ms": 20, "stages": [0, 1]},
                 {"id": 1, "start_ms": 15, "end_ms": 30, "stages": [1, 2]},
                 {"id": 2, "start_ms": 60, "end_ms": 70, "stages": [3]}],
        "stages": [{"stage": s, "attempt": 0, "tasks": 2, "run_ms": 100, "cpu_ns": 5e7,
                    "shuffle_read": 1, "shuffle_write": 2, "spill": 0, "gc_ms": 1}
                   for s in (0, 1, 2, 3)],
        "sql": [{"id": 2, "start_ms": 15, "end_ms": 30, "scratch_write": True},
                {"id": 3, "start_ms": 60, "end_ms": 70, "scratch_write": False}],
        "execs": [{"at_ms": 30, "scratch_scan_ms": 0}, {"at_ms": 70, "scratch_scan_ms": 4}],
    }

    def test_window_counters(self):
        c = stats.Engine(self.REC).counters(0, 50)
        self.assertEqual(c["jobs"], 2)
        # stage 1 is listed by both jobs but charged once
        self.assertEqual(c["stages"], 3)
        self.assertEqual(c["job_union_s"], 0.020)
        self.assertAlmostEqual(c["driver_only_s"], 0.030)
        self.assertAlmostEqual(c["executor_cpu_s"], 0.15)

    def test_scratch_attribution(self):
        e = stats.Engine(self.REC)
        self.assertEqual(e.scratch_spans(0, 50), [(15, 30)])
        self.assertEqual(e.scratch_read_s(50, 100), 0.004)
        spans = stats.with_scratch_spans([span(0, 0, 100, name="op"),
                                          span(1, 12, 40, parent=0, name="canonical")], e)
        self.assertEqual(spans[-1]["parent"], 1)
        self.assertEqual(stats.self_times(spans)[1], 28 - 15)


def digest(root):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Generator(unittest.TestCase):
    def check(self, workload):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            pa = gen.generate(workload, a, 7, 4)
            pb = gen.generate(workload, b, 7, 4)
            gen.generate(workload, c, 8, 4)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            return pa, pb

    def test_fit_small_deterministic(self):
        p, _ = self.check("fit_small")
        self.assertEqual(len(set(p["first_ids"])), len(p["first_ids"]))

    def test_fit_large_deterministic(self):
        p, _ = self.check("fit_large")
        self.assertGreaterEqual(p["files"], 4)

    def test_fit_large_first_ids_seed_every_blob(self):
        with tempfile.TemporaryDirectory() as t:
            p = gen.generate("fit_large", t, 7, 4)
            table = pq.read_table(os.path.join(t, "embeddings.parquet"))
        x = np.array(table.column("embedding").to_pylist(), dtype=np.float64)
        labels = np.array(table.column("label").to_pylist())
        for first in p["first_ids"]:
            self.assertEqual(len(set(labels[gen.maximin(x, p["k"], first)])), p["k"])

    def test_maximin_matches_its_definition(self):
        x = gen.rng(3, 0).normal(size=(200, 5))
        ids = [17]
        while len(ids) < 6:
            far = [min(((x[j] - x[i]) ** 2).sum() for i in ids) for j in range(len(x))]
            ids.append(int(np.argmax(far)))
        self.assertEqual(gen.maximin(x, 6, 17), ids)

    def test_export_csv_deterministic(self):
        p, _ = self.check("export_csv")
        self.assertEqual(sum(p["counts"]), p["n"])

    def test_dedup_corpus_deterministic(self):
        p, _ = self.check("dedup_corpus")
        self.assertEqual(len(p["corpus_dirs"]), gen.MAX_OPS)


if __name__ == "__main__":
    unittest.main()
