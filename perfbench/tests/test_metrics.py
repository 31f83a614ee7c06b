"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics as m  # noqa: E402
import run  # noqa: E402


def span(id_, name, start, end, parent=0):
    return {"id": id_, "name": name, "start": start, "end": end, "parent": parent, "run": "t"}


def job(id_, start, end, prop="", task_ms=0, shuffle=0, spill=0, written=0):
    return {"id": id_, "start": start, "end": end, "span": prop, "task_ms": task_ms,
            "shuffle_bytes": shuffle, "spill_bytes": spill, "written_bytes": written}


class TailRule(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(m.tail([1.0] * 10), (None, None, 10))
        self.assertEqual(m.tail([]), (None, None, 0))

    def test_tail_leaves_ten_samples_beyond(self):
        for n in (11, 20, 37, 100, 1000):
            values = [float(i) for i in range(n)][::-1]
            v, pct, count = m.tail(values)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in values if x > v), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_known_percentiles(self):
        self.assertEqual(m.tail(list(range(1, 21)))[:2], (10, 50.0))
        self.assertEqual(m.tail(list(range(1, 101)))[:2], (90, 90.0))
        self.assertEqual(m.tail(list(range(1, 1001)))[:2], (990, 99.0))


class Intervals(unittest.TestCase):
    def test_union_and_clip(self):
        self.assertEqual(m.covered([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(m.covered([(0, 10), (5, 15), (20, 30)], 8, 25), 12)
        self.assertEqual(m.covered([], 0, 10), 0)
        self.assertEqual(m.covered([(50, 60)], 0, 10), 0)


class LayerMetrics(unittest.TestCase):
    # A [0,1000] holds child B [200,600]; jobs at 100-300 (A), 250-500 (B)
    # and 700-800 (A); the window is 0-1200 ms
    spans = [span(1, "A", 0, 1000), span(2, "B", 200, 600, parent=1)]
    jobs = [job(1, 100, 300, task_ms=400, shuffle=2e6),
            job(2, 250, 500, task_ms=900, spill=1e6, written=3e6),
            job(3, 700, 800, task_ms=100)]

    def test_attribution_is_innermost_open_span(self):
        self.assertEqual(m.attribute(self.spans, self.jobs), {1: 1, 2: 2, 3: 1})
        self.assertEqual(m.attribute(self.spans, [job(9, 1100, 1150)]), {9: None})

    def test_self_time_idle_and_counters(self):
        out = m.layer_metrics(self.spans, self.jobs, (0, 1200), ["A", "B"], {"B"})
        self.assertAlmostEqual(out["A.self_s"], 0.6)
        self.assertAlmostEqual(out["B.self_s"], 0.4)
        # A: jobs cover [100,500] and [700,800] of its 1000 ms
        self.assertAlmostEqual(out["A.idle_s"], 0.5)
        # B: jobs cover [200,500] of its 400 ms
        self.assertAlmostEqual(out["B.idle_s"], 0.1)
        self.assertEqual(out["A.jobs"], 2)
        self.assertEqual(out["B.jobs"], 1)
        self.assertAlmostEqual(out["A.task_s"], 0.5)
        self.assertAlmostEqual(out["B.task_s"], 0.9)
        self.assertAlmostEqual(out["A.shuffle_mb"], 2.0)
        self.assertAlmostEqual(out["B.spill_mb"], 1.0)
        self.assertAlmostEqual(out["B.written_mb"], 3.0)
        self.assertNotIn("A.written_mb", out)
        self.assertAlmostEqual(out["root.self_s"], 0.2)

    def test_repeated_spans_report_per_call(self):
        spans = [span(1, "A", 0, 100), span(2, "A", 200, 250)]
        jobs = [job(1, 10, 20, task_ms=30), job(2, 210, 220, task_ms=10)]
        out = m.layer_metrics(spans, jobs, (0, 300), ["A"], set())
        self.assertAlmostEqual(out["A.self_s"], 0.075)
        self.assertAlmostEqual(out["A.idle_s"], 0.065)
        self.assertAlmostEqual(out["A.jobs"], 1.0)
        self.assertAlmostEqual(out["A.task_s"], 0.02)
        self.assertAlmostEqual(out["root.self_s"], 0.15)
        self.assertEqual(m.span_calls(spans), {"A": 2})

    def test_harness_is_a_window_total_outside_root(self):
        spans = [span(1, "A", 0, 100), span(2, "harness", 100, 130),
                 span(3, "harness", 200, 220)]
        out = m.layer_metrics(spans, [], (0, 300), ["A"], set())
        self.assertAlmostEqual(out["harness.self_s"], 0.05)
        self.assertAlmostEqual(out["root.self_s"], 0.15)

    def test_concurrent_siblings_split_by_span_property(self):
        spans = [span(1, "bm25", 0, 100), span(2, "ivf", 0, 120)]
        jobs = [job(1, 10, 20, prop="ivf"), job(2, 30, 40, prop="bm25"),
                job(3, 110, 115, prop="bm25")]
        # job 3 starts after bm25 closed: only ivf is open
        self.assertEqual(m.attribute(spans, jobs), {1: 2, 2: 1, 3: 2})


class Names(unittest.TestCase):
    def test_name_and_unit_rules(self):
        for ok in ("setup_s", "ext.star_cc.self_s", "p50-ms", "9lives"):
            self.assertTrue(m.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(m.valid_name(bad), bad)
        for ok in ("s", "ms", "1/s", "count", "MB", "%", "docs/s"):
            self.assertTrue(m.valid_unit(ok), ok)
        for bad in ("", "m s", "x" * 17, "s;"):
            self.assertFalse(m.valid_unit(bad), bad)

    def test_every_metric_name_and_unit_is_valid(self):
        names = {n: u for n, u, _ in run.END_TO_END}
        for w in run.WORKLOADS:
            names.update(run.per_layer_units(w))
        # 6 measures per span, written_mb on write spans, 4 index extras,
        # root and harness
        self.assertEqual(len(run.per_layer_units("corpus_dedup")), 9 * 6 + 4 + 4 + 2)
        self.assertEqual(run.per_layer_units("corpus_dedup"),
                         run.per_layer_units("index_serve_cdc"))
        self.assertEqual(len(run.per_layer_units("etl_daily")), 6 * 6 + 2 + 2)
        for name, unit in names.items():
            self.assertTrue(m.valid_name(name), name)
            self.assertTrue(m.valid_unit(unit), unit)

    def test_benchmark_json_matches_the_runner(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({e["name"]: e["unit"] for e in spec["end_to_end"]},
                         {n: u for n, u, _ in run.END_TO_END})
        self.assertEqual({e["name"]: e["unit"] for e in spec["per_layer"]},
                         run.per_layer_units(run.GATED[0]))
        self.assertEqual([w["name"] for w in spec["workloads"]], run.GATED)


if __name__ == "__main__":
    unittest.main()
