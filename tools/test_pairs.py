"""Tests of tools/pairs.py on canned perfbench result lines.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import pairs


def line(pass_cpu, heap=80.0, correct=True, failed=0):
    """A perfbench result line as run.py prints it."""
    return json.dumps({
        "correct": correct, "attempted": 1, "failed": failed,
        "metrics": {"pass_cpu_s": {"value": pass_cpu, "unit": "s"},
                    "live_heap_mb": {"value": heap, "unit": "MB"}}})


GATED = {"pass_cpu_s": "lower", "live_heap_mb": "lower"}


def records(workload, parent, change):
    """Run records for seeds 1.. from two equal-length lists of lines."""
    out = []
    for i, (p, c) in enumerate(zip(parent, change)):
        for side in pairs.order_of(i):
            out.append({"workload": workload, "seed": i + 1, "side": side,
                        "result": pairs.result_line(p if side == "parent" else c)})
    return out


class ParseTest(unittest.TestCase):
    def test_reads_the_last_result_line(self):
        stdout = "\n".join([
            "submission_dirty pass_s = 16.2 s",
            '{"not": "a result"}',
            line(60.0),
            "trailing noise"])
        self.assertEqual(pairs.result_line(stdout)["metrics"]["pass_cpu_s"]["value"], 60.0)
        self.assertIsNone(pairs.result_line("no json here\n{broken"))

    def test_seeds_and_order(self):
        self.assertEqual(pairs.parse_seeds("601-603,609"), [601, 602, 603, 609])
        self.assertEqual([pairs.order_of(i)[0] for i in range(4)],
                         ["parent", "change", "parent", "change"])


class SummarizeTest(unittest.TestCase):
    def test_a_clear_gain_holds(self):
        parent = [line(v) for v in (63.0, 62.5, 62.9, 64.7, 64.2, 65.7, 63.3, 64.0, 63.8, 62.8)]
        change = [line(v, heap=70.0) for v in
                  (58.6, 59.5, 57.9, 58.6, 55.5, 54.0, 58.0, 57.5, 59.0, 58.2)]
        rows = {r["metric"]: r for r in pairs.summarize(records("w", parent, change), GATED)}
        cpu = rows["pass_cpu_s"]
        self.assertEqual(cpu["pairs"], 10)
        self.assertEqual(cpu["wins"], 10)
        self.assertAlmostEqual(cpu["parent_q"][1], 63.55)
        self.assertAlmostEqual(cpu["change_q"][1], 58.1)
        self.assertTrue(cpu["holds"])
        self.assertEqual(rows["live_heap_mb"]["wins"], 10)
        text = pairs.render(pairs.summarize(records("w", parent, change), GATED))
        self.assertIn("change wins 10/10", text)
        self.assertIn("rule holds", text)

    def test_eight_wins_of_ten_or_a_gap_inside_the_iqr_does_not_hold(self):
        parent = [line(v) for v in range(60, 70)]
        eight = [line(v - 1 if i < 8 else v + 1) for i, v in enumerate(range(60, 70))]
        cpu = pairs.summarize(records("w", parent, eight), GATED)[0]
        self.assertEqual(cpu["wins"], 8)
        self.assertFalse(cpu["holds"])
        # 10 wins, but a median gap of 1 against a parent IQR of 4.5
        ten = [line(v - 1) for v in range(60, 70)]
        cpu = pairs.summarize(records("w", parent, ten), GATED)[0]
        self.assertEqual(cpu["wins"], 10)
        self.assertAlmostEqual(cpu["parent_iqr"], 4.5)
        self.assertFalse(cpu["holds"])

    def test_higher_is_better_metrics_count_rises_as_wins_and_ties_as_losses(self):
        recs = records("w", [line(1.0, heap=50.0)] * 3, [line(1.0, heap=90.0)] * 3)
        rows = pairs.summarize(recs, {"live_heap_mb": "higher", "pass_cpu_s": "lower"})
        self.assertEqual([r["wins"] for r in rows], [3, 0])

    def test_failed_runs_are_failures_and_leave_their_pair_out(self):
        parent = [line(64.0), line(63.0), line(65.0, correct=False), line(64.5)]
        change = [line(58.0), line(57.0, failed=1), line(59.0), "no result line"]
        cpu = pairs.summarize(records("w", parent, change), GATED)[0]
        self.assertEqual(cpu["failures"], 3)
        self.assertEqual(cpu["pairs"], 1)
        self.assertFalse(cpu["holds"])

    def test_no_regression_ok_within_the_bound(self):
        parent = [line(v) for v in (60.0, 61.0, 62.0, 63.0, 64.0)]
        # median 62 -> 76.5: +23% against a 25% bound
        change = [line(v) for v in (75.0, 76.0, 76.5, 77.0, 78.0)]
        rows = pairs.summarize(records("w", parent, change), GATED,
                               {"pass_cpu_s": 0.25, "live_heap_mb": 0.1})
        self.assertEqual([r["verdict"] for r in rows], ["ok", "ok"])
        text = pairs.render(rows)
        self.assertIn("no-regression ok", text)

    def test_no_regression_worse_past_the_bound_with_a_tight_parent(self):
        parent = [line(v) for v in (60.0, 61.0, 62.0, 63.0, 64.0)]
        # +30% against a 25% bound; parent IQR 2 is well inside the bound
        change = [line(v) for v in (80.0, 80.5, 80.6, 81.0, 82.0)]
        cpu = pairs.summarize(records("w", parent, change), GATED,
                              {"pass_cpu_s": 0.25})[0]
        self.assertEqual(cpu["verdict"], "worse")

    def test_no_regression_unresolved_when_the_parent_spreads_past_the_bound(self):
        # parent median 60, IQR 40 - 90 = 50 (> 25% of 60)
        parent = [line(v) for v in (30.0, 40.0, 60.0, 90.0, 100.0)]
        change = [line(v) for v in (35.0, 80.0, 80.0, 85.0, 95.0)]
        cpu = pairs.summarize(records("w", parent, change), GATED,
                              {"pass_cpu_s": 0.25})[0]
        self.assertEqual(cpu["verdict"], "unresolved")

    def test_no_regression_runs_higher_is_better_metrics_the_other_way(self):
        parent = [line(1.0, heap=v) for v in (100.0, 101.0, 102.0)]
        lower = [line(1.0, heap=v) for v in (80.0, 81.0, 82.0)]
        higher = [line(1.0, heap=v) for v in (120.0, 121.0, 122.0)]
        gated = {"live_heap_mb": "higher"}
        self.assertEqual(pairs.summarize(records("w", parent, lower), gated,
                                         {"live_heap_mb": 0.1})[0]["verdict"], "worse")
        self.assertEqual(pairs.summarize(records("w", parent, higher), gated,
                                         {"live_heap_mb": 0.1})[0]["verdict"], "ok")
        # no bound given: no verdict, and render says nothing of it
        rows = pairs.summarize(records("w", parent, higher), gated)
        self.assertIsNone(rows[0]["verdict"])
        self.assertNotIn("no-regression", pairs.render(rows))

    def test_bounds_come_from_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        bounds = pairs.metric_bounds(root)
        self.assertEqual(set(bounds), set(pairs.gated_metrics(root)))
        self.assertTrue(all(0 < b < 1 for b in bounds.values()))

    def test_summarize_reads_a_log(self):
        recs = records("submission_dirty", [line(63.0)], [line(58.0)])
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "log.jsonl")
            with open(path, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in recs)
            self.assertEqual(pairs.read_log(path), recs)


if __name__ == "__main__":
    unittest.main()
