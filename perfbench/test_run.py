"""Tests of run.py's own arithmetic and of its agreement with
BENCHMARK.json. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import json
import os
import unittest

import run


class HostRecordTest(unittest.TestCase):

    def test_cpu_line_total_excludes_guest(self):
        # user nice system idle iowait irq softirq steal guest guest_nice
        f = "cpu 100 0 50 800 10 0 5 35 40 0".split()
        self.assertEqual(run.parse_cpu_line(f), (35, 1000))

    def test_short_cpu_line(self):
        self.assertEqual(run.parse_cpu_line("cpu 1 2 3 4".split()), (0, 10))

    def test_steal_pct_over_an_interval(self):
        self.assertEqual(run.steal_pct((10, 1000), (30, 2000)), 2.0)
        self.assertIsNone(run.steal_pct((10, 1000), (10, 1000)))
        self.assertIsNone(run.steal_pct(None, (10, 1000)))


class SpecTest(unittest.TestCase):

    def setUp(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            self.spec = json.load(f)

    def test_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         run.PER_LAYER)

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)

    def test_every_layer_reports_the_nine_figures(self):
        names = {m for m, _ in run.PER_LAYER}
        for layer in run.LAYERS:
            for fig, _ in run.LAYER_FIGURES:
                self.assertIn(f"{layer}.{fig}", names)


if __name__ == "__main__":
    unittest.main()
