"""Tests for run.py's error accounting, metric selection and checks. Run: python3 -m unittest perfbench/test_run.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class ErrorRateTest(unittest.TestCase):
    def test_rate_is_failed_over_attempted(self):
        self.assertEqual(run.error_rate(20000, 0), 0.0)
        self.assertEqual(run.error_rate(200, 3), 0.015)
        self.assertEqual(run.error_rate(4, 4), 1.0)

    def test_nothing_attempted_or_impossible_counts_are_refused(self):
        for attempted, failed in ((0, 0), (10, -1), (10, 11)):
            with self.assertRaises(ValueError):
                run.error_rate(attempted, failed)

    def test_oracle_mismatch_fails_every_timed_execution_of_the_query(self):
        raw = {"attempted": 12, "failed": 1, "failures": ["ref_mage: boom"],
               "oracle": {"executions": {"ref_mage": 2, "ref_modd": 2}}}
        attempted, failed, named = run.count_failures(raw, {"ref_modd": "3 rows vs 4"})
        self.assertEqual((attempted, failed), (12, 3))
        self.assertEqual(named, ["ref_mage: boom", "ref_modd: 3 rows vs 4"])
        self.assertEqual(run.error_rate(attempted, failed), 0.25)

    def test_stream_failures_pass_through_unchanged(self):
        raw = {"attempted": 20000, "failed": 2, "failures": ["a-1: stored 0 times", "a-9: x"]}
        self.assertEqual(run.count_failures(raw, {}), (20000, 2, raw["failures"]))

    def test_failed_never_exceeds_attempted(self):
        raw = {"attempted": 2, "failed": 2, "failures": [],
               "oracle": {"executions": {"q": 2}}}
        self.assertEqual(run.count_failures(raw, {"q": "mismatch"})[1], 2)


class SelectMetricsTest(unittest.TestCase):
    DECLARED = [{"name": "streaming.batches", "unit": "count"},
                {"name": "queries.construct_s", "unit": "s"},
                {"name": "query.ref_mage_s", "unit": "s"}]

    def test_idle_layer_reads_an_explicit_zero(self):
        got = {"streaming.batches": {"value": 12.0, "unit": "count"}}
        out = run.select_metrics(got, self.DECLARED, ["queries", "query"])
        self.assertEqual(list(out), ["streaming.batches", "queries.construct_s", "query.ref_mage_s"])
        self.assertEqual(out["streaming.batches"]["value"], 12.0)
        self.assertEqual(out["queries.construct_s"], {"value": 0.0, "unit": "s"})

    def test_a_reported_value_wins_over_idle(self):
        got = {"streaming.batches": {"value": 0.0, "unit": "count"},
               "queries.construct_s": {"value": 1.5, "unit": "s"},
               "query.ref_mage_s": {"value": 0.7, "unit": "s"}}
        out = run.select_metrics(got, self.DECLARED, ["streaming"])
        self.assertEqual(out["queries.construct_s"]["value"], 1.5)

    def test_missing_metric_of_an_active_layer_is_an_error(self):
        got = {"queries.construct_s": {"value": 1.5, "unit": "s"}}
        with self.assertRaisesRegex(ValueError, "streaming.batches"):
            run.select_metrics(got, self.DECLARED, ["query"])


class ChecksTest(unittest.TestCase):
    @staticmethod
    def raw(share, sustained=None):
        info = {} if sustained is None else {"sustained_rps": sustained}
        return {"per_layer": {"trace.self_sum_share": {"value": share, "unit": "ratio"}},
                "info": info}

    def test_layers_must_cover_the_traced_wall(self):
        self.assertEqual(run.failed_checks(self.raw(0.97), {}, 1), [])
        self.assertEqual(len(run.failed_checks(self.raw(0.85), {}, 1)), 1)
        self.assertEqual(len(run.failed_checks(self.raw(1.12), {}, 1)), 1)
        self.assertEqual(run.failed_checks(self.raw(0.5), {}, 0), [])  # untraced: no spans

    def test_open_loop_must_keep_up_with_its_offered_rate(self):
        spec = {"rate_per_s": 2000}
        self.assertEqual(run.failed_checks(self.raw(1.0, 1985.0), spec, 0), [])
        self.assertEqual(len(run.failed_checks(self.raw(1.0, 1800.0), spec, 0)), 1)


if __name__ == "__main__":
    unittest.main()
