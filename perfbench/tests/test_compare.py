"""Tests of the comparison rule in compare.py (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""

import io
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402

LOWER = {"better": "lower", "bound": 0.1, "unit": "s"}


class VerdictTest(unittest.TestCase):
    def test_nine_of_ten_wins_beyond_the_parent_iqr_is_better(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [9.0] * 9 + [10.5]
        self.assertEqual(compare.verdict(LOWER, parent, change), ("better", 9))

    def test_eight_of_ten_wins_is_not_better(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [9.0] * 8 + [10.5, 10.5]
        self.assertEqual(compare.verdict(LOWER, parent, change)[0], "same")

    def test_a_gap_inside_the_parent_iqr_is_not_better(self):
        parent = [8.0, 12.0] * 5
        change = [x - 0.5 for x in parent]
        self.assertEqual(compare.verdict(dict(LOWER, bound=0.5), parent, change), ("same", 10))

    def test_ties_count_for_neither_side(self):
        parent = [10.0] * 10
        self.assertEqual(compare.verdict(LOWER, parent, list(parent)), ("same", 0))

    def test_a_median_worse_by_more_than_the_bound_is_worse(self):
        parent = [10.0] * 10
        change = [11.5] * 10
        self.assertEqual(compare.verdict(LOWER, parent, change)[0], "worse")

    def test_a_parent_spread_wider_than_the_bound_is_unresolved(self):
        parent = [7.0, 13.0] * 5
        change = [10.5, 9.0] * 5
        self.assertEqual(compare.verdict(LOWER, parent, change)[0], "unresolved")

    def test_wide_spread_is_resolved_when_every_change_run_wins(self):
        parent = [20.0, 30.0] * 5
        change = [5.0] * 10
        self.assertEqual(compare.verdict(LOWER, parent, change)[0], "better")

    def test_higher_is_better_direction(self):
        spec = {"better": "higher", "bound": 0.1}
        self.assertEqual(compare.verdict(spec, [1.0] * 10, [2.0] * 10)[0], "better")
        self.assertEqual(compare.verdict(spec, [2.0] * 10, [1.0] * 10)[0], "worse")

    def test_per_layer_metrics_have_no_bound(self):
        spec = {"better": "lower", "bound": None}
        self.assertEqual(compare.verdict(spec, [1.0] * 10, [3.0] * 10)[0], "-")


class ReportTest(unittest.TestCase):
    def test_every_ratio_carries_its_base(self):
        self.assertEqual(compare.ratio_text(2.0, 1.0, "s"),
                         "0.500 (change 1 s / parent 2 s)")

    def test_report_has_one_row_per_workload_and_metric(self):
        def res(v):
            return {"correct": True, "metrics": {
                "total_s": {"value": v, "unit": "s"}, "cpu_s": {"value": v / 2, "unit": "s"}}}
        pairs = [{"workload": w, "seed": i, "parent": res(10.0 + i % 2), "change": res(9.0)}
                 for w in ("a", "b") for i in range(10)]
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump({"pairs": pairs}, f)
        try:
            rows = compare.report(f.name, out=io.StringIO())
        finally:
            os.unlink(f.name)
        self.assertEqual([(r[0], r[1]) for r in rows],
                         [("a", "total_s"), ("a", "cpu_s"), ("b", "total_s"), ("b", "cpu_s")])
        self.assertTrue(all(r[2] == "better" for r in rows))

    def test_span_diff_reports_self_time_per_layer_per_round(self):
        def spans(path, scale):
            with open(path, "w") as f:
                for r in range(2):
                    f.write(json.dumps({"op": f"r{r}.0.q", "layer": "exec",
                                        "self_ns": int(2e9 * scale)}) + "\n")
                    f.write(json.dumps({"op": f"r{r}", "layer": "round",
                                        "self_ns": int(1e8)}) + "\n")
        with tempfile.TemporaryDirectory() as d:
            spans(os.path.join(d, "p"), 1.0)
            spans(os.path.join(d, "c"), 0.5)
            rows = dict((l, (a, b)) for l, a, b in compare.spans_diff(
                os.path.join(d, "p"), os.path.join(d, "c"), out=io.StringIO()))
        self.assertAlmostEqual(rows["exec"][0], 2.0)
        self.assertAlmostEqual(rows["exec"][1], 1.0)


if __name__ == "__main__":
    unittest.main()
