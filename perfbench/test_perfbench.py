#!/usr/bin/env python3
"""Tests of perfbench's Python side: seeded generator, result line, spans.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        for seed in (1, 2):
            gen.write(seed, os.path.join(cls.tmp, str(seed)))
        cls.props = {s: gen.properties(os.path.join(cls.tmp, str(s))) for s in (1, 2)}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_same_seed_same_content(self):
        a, b = gen.tables(7), gen.tables(7)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_content_same_shape(self):
        a, b = gen.tables(1), gen.tables(2)
        self.assertEqual(sorted(a), sorted(run.TABLES))
        for name in a:
            self.assertEqual(a[name].schema, b[name].schema, name)
            self.assertEqual(a[name].num_rows, b[name].num_rows, name)
        for name in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertFalse(a[name].equals(b[name]), name)

    def test_properties_hold_across_seeds(self):
        p1, p2 = self.props[1], self.props[2]
        self.assertEqual(p1["near_dup_share"], gen.NEAR_DUP_SHARE)
        self.assertEqual(p1["near_dup_share"], p2["near_dup_share"])
        self.assertEqual(p1["embeddings"], p2["embeddings"])
        for k in ["gazetteer_hit_share", "graph_edges", "graph_mean_degree"]:
            self.assertGreater(p1[k], 0, k)
            self.assertAlmostEqual(p1[k] / p2[k], 1.0, delta=0.1, msg=k)


class ResultLineTest(unittest.TestCase):
    def test_line_parses_and_fits_2000_characters_for_every_workload(self):
        sp = run.spec()
        self.assertEqual(sorted(w["name"] for w in sp["workloads"]), sorted(run.WORKLOADS))
        for w in run.WORKLOADS:
            for key in ("end_to_end", "per_layer"):
                names = [m["name"] for m in sp[key]]
                # values with every digit a double can print
                metrics = {n: 12345.678901234567 for n in names}
                line = run.result_line(True, 123456, 0, metrics, names)
                self.assertLessEqual(len(line), 2000, (w, key, len(line)))
                rec = json.loads(line)
                self.assertEqual(set(rec), {"correct", "attempted", "failed", "metrics"})
                self.assertEqual(list(rec["metrics"]), names)

    def test_declared_units_match_run_py(self):
        sp = run.spec()
        for m in sp["end_to_end"] + sp["per_layer"]:
            self.assertEqual(m["unit"], run.unit(m["name"]), m["name"])


class SpanTest(unittest.TestCase):
    def test_self_time_and_driver_only_time(self):
        raw = {
            "spans": [
                {"id": 0, "parent": -1, "name": "run", "start_ms": 0, "end_ms": 100},
                {"id": 1, "parent": 0, "name": "pass1", "start_ms": 10, "end_ms": 90},
                {"id": 2, "parent": 1, "name": "step", "start_ms": 20, "end_ms": 60},
            ],
            "span_stats": {
                "1": {"jobs": 1, "task_s": 1.0, "job_intervals_ms": [[70, 80]]},
                "2": {"jobs": 2, "task_s": 2.0, "job_intervals_ms": [[25, 35], [30, 40]]},
            },
        }
        spans = run.span_tree(raw)
        self.assertEqual(spans[1]["stats"]["jobs"], 3)
        self.assertEqual(spans[1]["stats"]["task_s"], 3.0)
        self.assertAlmostEqual(spans[1]["self_s"], 0.040)  # 80 ms minus the 40 ms step
        self.assertAlmostEqual(spans[1]["driver_only_s"], 0.030)  # minus its own 10 ms job too
        self.assertAlmostEqual(spans[2]["driver_only_s"], 0.025)  # 40 ms minus 15 ms of jobs


if __name__ == "__main__":
    unittest.main()
