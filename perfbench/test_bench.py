"""Tests of the benchmark's own logic: the comparison verdicts, the tail
percentile rule, the end-to-end reduction of a run record, span self time
and the oracle-gate parser.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_improved_needs_ten_pairs_ninety_percent_wins_and_gap_over_iqr(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.05), "improved")
        self.assertNotEqual(
            compare.verdict(self.parent[:9], change[:9], "lower", 0.05), "improved")

    def test_not_improved_when_pairs_do_not_alternate(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(
            compare.verdict(self.parent, change, "lower", 0.05, alternating=False),
            "no worse")

    def test_win_share_below_ninety_percent_is_not_a_gain(self):
        change = [x - 1.0 for x in self.parent]
        change[0] = change[1] = 20.0
        self.assertNotEqual(compare.verdict(self.parent, change, "lower", 0.25), "improved")

    def test_gap_within_parent_iqr_is_not_a_gain(self):
        change = [x - 0.01 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.05), "no worse")

    def test_worse_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "worse")
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.25), "no worse")

    def test_higher_is_better(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1), "improved")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 10.0, 9.0, 11.0, 10.0]
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1), "unresolved")

    def test_wide_spread_resolves_when_every_change_run_is_better(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 10.0, 9.0, 11.0, 10.0]
        change = [4.0] * 3
        self.assertEqual(compare.verdict(noisy[:3], change, "lower", 0.1), "no worse")


def record(workload, started, value, correct=True, failed=0):
    execs = [{"ok": True}] * 4 + [{"ok": False}] * failed
    return {"stamps": {"workload": workload, "started_us": started, "trace": 0},
            "correct": correct, "executions": execs,
            "metrics": {"pass_s": {"value": value}}}


class CompareFailuresTest(unittest.TestCase):
    spec = {"end_to_end": [{"name": "pass_s", "unit": "s", "better": "lower",
                            "bound": 0.25}]}

    def pairs(self, change_value, **change_kw):
        parent, change = [], []
        for i in range(10):
            a, b = (2 * i, 2 * i + 1) if i % 2 == 0 else (2 * i + 1, 2 * i)
            parent.append(record("w", a, 10.0 + 0.01 * i))
            change.append(record("w", b, change_value, **change_kw))
        return parent, change

    def test_faster_change_improves(self):
        parent, change = self.pairs(5.0)
        (row,) = compare.compare(parent, change, self.spec)
        self.assertEqual(row["verdict"], "improved")

    def test_more_failed_executions_make_a_gain_worse(self):
        parent, change = self.pairs(5.0)
        change[3] = record("w", change[3]["stamps"]["started_us"], 5.0,
                           correct=False, failed=1)
        (row,) = compare.compare(parent, change, self.spec)
        self.assertEqual(row["verdict"], "worse")
        self.assertEqual(row["change_failures"]["failed"], 1)
        self.assertEqual(row["change_failures"]["incorrect_runs"], 1)

    def test_workload_with_no_correct_change_run_still_gets_a_row(self):
        parent, change = self.pairs(5.0, correct=False, failed=2)
        (row,) = compare.compare(parent, change, self.spec)
        self.assertEqual(row["verdict"], "worse")
        self.assertEqual(row["pairs"], 0)
        self.assertEqual(row["change_failures"]["incorrect_runs"], 10)

    def test_equal_failures_on_both_sides_do_not_decide(self):
        parent, change = self.pairs(5.0)
        parent[0] = record("w", 0, 10.0, correct=False)
        change[0] = record("w", 1, 5.0, correct=False)
        (row,) = compare.compare(parent, change, self.spec)
        self.assertEqual(row["pairs"], 9)
        self.assertNotEqual(row["verdict"], "worse")

    def test_load_keeps_incorrect_runs(self):
        import json
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            for i, r in enumerate([record("w", 0, 1.0),
                                   record("w", 1, 1.0, correct=False)]):
                with open(os.path.join(d, "%d.json" % i), "w") as f:
                    json.dump(r, f)
            self.assertEqual(len(compare.load(d)), 2)


class PercentileTest(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 0.90), 10)
        self.assertEqual(stats.samples_beyond(99, 0.90), 9)
        self.assertEqual(stats.samples_beyond(200, 0.95), 10)

    def test_percentile_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.90), 90)
        self.assertIsNone(stats.percentile(xs[:99], 0.90))
        self.assertIsNone(stats.percentile(list(range(199)), 0.95))
        self.assertEqual(stats.percentile(list(range(1, 201)), 0.95), 190)

    def test_quartiles_match_statistics_quantiles(self):
        self.assertEqual(stats.quartiles([1.0, 2.0, 3.0, 4.0]), (1.25, 3.75))


class EndToEndTest(unittest.TestCase):
    def test_setup_ends_with_cold_pass_and_settle_passes_are_not_timed(self):
        passes = [{"phase": "cold", "wall_s": 8.0, "heap_peak_mb": 500.0},
                  {"phase": "settle", "wall_s": 4.0, "heap_peak_mb": 900.0},
                  {"phase": "warm", "wall_s": 3.0, "heap_peak_mb": 800.0},
                  {"phase": "warm", "wall_s": 2.0, "heap_peak_mb": 850.0},
                  {"phase": "warm", "wall_s": 2.5, "heap_peak_mb": 800.0}]
        execs = [{"phase": p["phase"], "query": q, "wall_s": p["wall_s"] * f}
                 for p in passes for q, f in (("a", 0.8), ("b", 0.2))]
        m = stats.end_to_end({"session_s": 10.0, "ready_s": 18.5,
                              "passes": passes, "executions": execs})
        self.assertEqual(m["setup_s"], (18.5, "s", 1))
        self.assertEqual(m["session_s"], (10.0, "s", 1))
        self.assertEqual(m["cold_pass_s"], (8.0, "s", 1))
        self.assertEqual(m["pass_s"], (2.5, "s", 3))
        self.assertAlmostEqual(m["query_geomean_s"][0], (2.0 * 0.5) ** 0.5)
        self.assertEqual(m["live_heap_peak_mb"], (825.0, "MB", 4))


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "label": "",
            "start_us": start * 1e6, "end_us": end * 1e6}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(1, -1, "query", 0, 10),
                 span(2, 1, "build", 0, 4),
                 span(3, 1, "action", 4, 9),
                 span(4, 3, "job", 5, 7),
                 span(5, 3, "job", 6, 8)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t[1], 1.0)
        self.assertAlmostEqual(t[2], 4.0)
        self.assertAlmostEqual(t[3], 2.0)
        self.assertAlmostEqual(t[4], 2.0)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, -1, "action", 0, 2), span(2, 1, "job", 1, 5)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 1.0)

    def test_open_spans_are_skipped(self):
        spans = [span(1, -1, "query", 0, 2), dict(span(2, 1, "job", 1, 3), end_us=None)]
        self.assertEqual(stats.self_times(spans), {1: 2.0})

    def test_self_time_by_layer(self):
        spans = [span(1, -1, "query", 0, 10), span(2, 1, "job", 2, 3),
                 span(3, 1, "job", 5, 7)]
        self.assertEqual(stats.self_time_by_layer(spans), {"query": 7.0, "job": 3.0})


class GateParserTest(unittest.TestCase):
    oracle = ("ok   q1_a (5 rows)\nFAIL q2_b: rows got=1 want=2\n"
              "ok   q3_c (0 rows)\n\n2 ok, 1 fail, 10 skipped (--skip/--only)\n")

    def test_parses_rows_and_failures(self):
        verify = "[verify] q3_c failed: boom\n"
        expected, failed = run.parse_gate(verify, self.oracle, ["q1_a", "q2_b", "q3_c"])
        self.assertEqual(expected, {"q1_a": 5})
        self.assertEqual(sorted(failed), ["q2_b", "q3_c"])

    def test_query_without_oracle_line_fails(self):
        expected, failed = run.parse_gate("", self.oracle, ["q1_a", "q4_d"])
        self.assertIn("q4_d", failed)

    def test_summary_must_match_lines(self):
        with self.assertRaises(run.BenchError):
            run.parse_gate("", "ok   q1_a (5 rows)\n\n3 ok, 0 fail\n", ["q1_a"])


if __name__ == "__main__":
    unittest.main()
