"""Self-tests of the benchmark's helpers: python3 enginebench/test_benchlib.py"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


def span(id, parent, start, end, name="x", attrs=None):
    return {"id": id, "parent": parent, "op": 1, "name": name,
            "start_ns": start, "end_ns": end, "attrs": attrs or {}}


class SummaryTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        s = benchlib.summary([5.0, 1.0, 3.0, 2.0, 4.0])
        self.assertEqual(s["n"], 5)
        self.assertEqual(s["p50"], 3.0)
        self.assertEqual((s["q1"], s["q3"]), (1.5, 4.5))

    def test_no_tail_percentile_below_ten_samples_beyond_it(self):
        self.assertNotIn("p90", benchlib.summary(range(1, 100)))
        self.assertNotIn("p99", benchlib.summary(range(1, 100)))

    def test_p90_from_a_hundred_samples_p99_from_a_thousand(self):
        s = benchlib.summary(range(1, 101))
        self.assertIn("p90", s)
        self.assertNotIn("p99", s)
        s = benchlib.summary(range(1, 1001))
        self.assertIn("p99", s)
        self.assertNotIn("p90", s)

    def test_single_sample(self):
        s = benchlib.summary([7.0])
        self.assertEqual((s["p50"], s["q1"], s["q3"], s["n"]), (7.0, 7.0, 7.0, 1))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.summary([])


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(benchlib.self_times([span(1, 0, 0, 100)]), {1: 100})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50), span(4, 1, 70, 80)]
        self.assertEqual(benchlib.self_times(spans)[1], 100 - 40 - 10)

    def test_children_are_clipped_to_the_parent(self):
        # a Spark job's end can trail the call that started it by a few ms
        spans = [span(1, 0, 100, 200), span(2, 1, 50, 150), span(3, 1, 190, 260)]
        self.assertEqual(benchlib.self_times(spans)[1], 100 - 50 - 10)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)]
        st = benchlib.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 0, 50))

    def test_layer_table_sums_self_time_per_name(self):
        spans = [span(1, 0, 0, 100, "bench.op"), span(2, 1, 0, 60, "graft.codec"),
                 span(3, 0, 100, 200, "bench.op")]
        rows = {r[0]: r for r in benchlib.layer_table(spans)}
        self.assertEqual(rows["bench.op"][1], 2)
        self.assertAlmostEqual(rows["bench.op"][3], 140 / 1e9)
        self.assertAlmostEqual(rows["graft.codec"][4], 60 / 200)


class FormatTest(unittest.TestCase):
    def test_metric_line_with_stats(self):
        line = benchlib.metric_line("op_ms", 12.5, "ms", benchlib.summary([10, 12.5, 15]))
        self.assertTrue(line.startswith("metric op_ms"))
        self.assertIn(" 12.5 ms", " ".join(line.split()))
        self.assertIn("(n=3 q1=", line)

    def test_metric_line_without_stats(self):
        self.assertEqual(" ".join(benchlib.metric_line("stored_ratio", 0.25, "ratio").split()),
                         "metric stored_ratio 0.25 ratio")

    def test_result_line_keys_and_full_digits(self):
        r = json.loads(benchlib.result_line(True, 3, 0, {"op_ms": (1.0 / 3.0, "ms")}))
        self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(r["metrics"]["op_ms"], {"value": 1.0 / 3.0, "unit": "ms"})

    def test_trace_overhead_pct(self):
        samples = [{"kind": k, "phase": p, "ms": ms} for k, p, ms in [
            ("a", "plain", 100), ("a", "traced", 110), ("b", "plain", 10), ("b", "traced", 11),
            ("c", "traced", 50), ("a", "sweep", 999)]]
        self.assertAlmostEqual(benchlib.trace_overhead_pct(samples), 10.0)

    def test_drop_growth(self):
        self.assertEqual(benchlib.drop_growth([1, 1, 1, 2, 2, 2]), 2.0)
        self.assertEqual(benchlib.drop_growth([1, 2]), 0.0)


if __name__ == "__main__":
    unittest.main()
