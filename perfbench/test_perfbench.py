#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py          # all (~2 min)
    PERFBENCH_SMOKE=0 python3 -m unittest perfbench/test_perfbench.py   # no Spark

The smoke tests run the `smoke` workload (four queries, tables at scale
0.001) through perfbench/run.py: twice traced with one seed and once
untraced, and check metric names, units and the repeatability of counts.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(span(0, None, 10, 30), []), 20)

    def test_disjoint_children(self):
        kids = [span(1, 0, 12, 15), span(2, 0, 20, 24)]
        self.assertEqual(metrics.self_time(span(0, None, 10, 30), kids), 13)

    def test_overlapping_children_count_once(self):
        kids = [span(1, 0, 12, 20), span(2, 0, 15, 25), span(3, 0, 25, 26)]
        self.assertEqual(metrics.self_time(span(0, None, 10, 30), kids), 6)

    def test_children_clipped_to_parent(self):
        kids = [span(1, 0, 5, 12), span(2, 0, 28, 40)]
        self.assertEqual(metrics.self_time(span(0, None, 10, 30), kids), 16)

    def test_nested_child_covering_parent(self):
        self.assertEqual(metrics.self_time(span(0, None, 10, 30), [span(1, 0, 0, 50)]), 0)

    def test_layers_account_for_wall(self):
        """build + planning + jobs + driver gap of the action = query wall."""
        rec = {
            "execs": [{"pass": 1, "query": "q", "traced": True, "t0": 0.0, "t1": 40.0, "t2": 100.0,
                       "analysis": [1, 3], "ok": True, "rows": 1, "digest": "0", "persisted": 0,
                       "leaked": 0, "rdd_bytes": 0, "storage_bytes": 0}],
            "jobs": [{"tag": "1|q|build", "id": 0, "start": 10, "end": 30},
                     {"tag": "1|q|action", "id": 1, "start": 50, "end": 70},
                     {"tag": "1|q|action", "id": 2, "start": 60, "end": 80}],
            "qes": [{"analysis": [41, 42], "optimization": [42, 45], "planning": [45, 48]}],
            "tasks": {}, "batches": [],
            "passes": [{"pass": 1, "traced": True, "wall_s": 0.1, "cpu_s": 0.1, "gc_s": 0.0, "jit_s": 0.0}],
        }
        m, sp = metrics.per_layer(rec)
        action = [s for s in sp if s["name"] == "action"][0]
        kids = [s for s in sp if s["parent"] == action["id"]]
        self.assertEqual(metrics.self_time(action, kids), 60 - 7 - 30)
        self.assertAlmostEqual(m["exec.s"][0], 0.030)
        self.assertAlmostEqual(m["exec.driver_gap_s"][0], 0.023)
        self.assertAlmostEqual(m["build.s"][0], 0.040)
        plan_in_action = (1 + 3 + 3) / 1e3
        self.assertAlmostEqual(m["build.s"][0] + plan_in_action + m["exec.s"][0]
                               + m["exec.driver_gap_s"][0], 0.100)
        self.assertEqual(m["build.jobs"][0], 1)
        self.assertEqual(m["exec.jobs"][0], 2)


class Tail(unittest.TestCase):
    def test_ten_beyond(self):
        vals = list(range(1, 43))  # 42 samples
        p, v = metrics.tail(vals)
        self.assertEqual(p, 76)
        self.assertEqual(sum(1 for x in vals if x > v), 10)

    def test_too_few(self):
        self.assertEqual(metrics.tail(list(range(10))), (None, None))


class Verdict(unittest.TestCase):
    def test_gain_regression_unresolved(self):
        import compare
        self.assertEqual(compare.verdict([10] * 10, [8] * 10, "lower", 0.25)[0], "gain")
        steady = [10, 11, 9, 10, 12, 10, 9, 11, 10, 10]
        self.assertEqual(compare.verdict(steady, [13] * 10, "lower", 0.25)[0], "regression")
        self.assertEqual(compare.verdict(steady, [10.5] * 10, "lower", 0.25)[0], "within bound")
        noisy = [10, 20, 5, 10, 30, 10, 9, 1, 10, 10]
        self.assertEqual(compare.verdict(noisy, [10] * 10, "lower", 0.25)[0], "unresolved")


def run(seed, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "smoke",
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py failed ({r.returncode}):\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


@unittest.skipIf(os.environ.get("PERFBENCH_SMOKE") == "0", "PERFBENCH_SMOKE=0")
class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)
        cls.traced = [run(7, 1), run(7, 1)]
        cls.untraced = run(7, 0)

    def check_names(self, result, declared):
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_names_and_units(self):
        self.check_names(self.untraced, self.spec["end_to_end"])
        for m in self.spec["end_to_end"]:
            self.assertGreater(self.untraced["metrics"][m["name"]]["value"], 0, m["name"])

    def test_per_layer_names_and_units(self):
        for r in self.traced:
            self.check_names(r, self.spec["per_layer"])

    def test_counts_repeat_for_one_seed(self):
        a, b = (r["metrics"] for r in self.traced)
        for name, m in a.items():
            if m["unit"] == "count":
                self.assertEqual(m["value"], b[name]["value"], name)


if __name__ == "__main__":
    unittest.main()
