"""Tests of the benchmark's own arithmetic.

Run from the checkout root: python3 -m unittest discover -s apmbench/tests
"""
import json
import locale
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(M.tail_q(1000), 0.99)
        self.assertEqual(M.tail_q(5000), 0.99)
        self.assertAlmostEqual(M.tail_q(100), 0.90)
        self.assertAlmostEqual(M.tail_q(40), 0.75)
        for n in (40, 100, 250, 1000):
            beyond = n - 1 - M.tail_q(n) * (n - 1)
            self.assertGreaterEqual(beyond + 1, M.BEYOND)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(M.tail_q(20), 0.5)
        self.assertEqual(M.tail_q(3), 0.5)
        s = M.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["p50"], s["tail"], s["n"]), (2.0, 2.0, 3))

    def test_summary_reports_count_and_quantile(self):
        s = M.summary([float(i) for i in range(1, 1001)])
        self.assertEqual(s["n"], 1000)
        self.assertEqual(s["tail_q"], 0.99)
        self.assertAlmostEqual(s["p50"], 500.5)
        self.assertAlmostEqual(s["tail"], 990.01)

    def test_quantile_interpolates(self):
        self.assertEqual(M.quantile([0.0, 10.0], 0.25), 2.5)
        self.assertEqual(M.quantile([7.0], 0.99), 7.0)
        with self.assertRaises(ValueError):
            M.quantile([], 0.5)


def written(interval, visible_us, lo_ms, hi_ms):
    return {"interval": interval, "visible_us": visible_us,
            "min_event_ms": lo_ms, "max_event_ms": hi_ms}


class DelayAttributionTest(unittest.TestCase):
    # Two hosts per interval; interval k holds events [10k, 10k + 6] s.
    GEN = [written(0, 1_000_000, 0, 6000), written(0, 1_050_000, 0, 6000),
           written(1, 2_000_000, 10000, 16000), written(1, 2_100_000, 10000, 16000),
           written(2, 3_000_000, 20000, 26000), written(2, 2_950_000, 20000, 26000)]

    def test_delay_runs_from_first_visible_closing_line(self):
        # Window ending at 5 s closes at 5 s + 10 s lateness = 15 s: the
        # first line at or past 15 s is in interval 1, first visible at 2.0 s.
        delays, late = M.row_delays([(5000, 2_500_000)], self.GEN, 10000, 10**12)
        self.assertEqual(late, 0)
        self.assertAlmostEqual(delays[0], 0.5)

    def test_earliest_host_file_wins(self):
        # Threshold 26 s: only interval 2 qualifies; its second host file
        # became visible first.
        delays, _ = M.row_delays([(16000, 3_950_000)], self.GEN, 10000, 10**12)
        self.assertAlmostEqual(delays[0], 1.0)

    def test_exact_threshold_counts(self):
        closing = M.ClosingIndex(self.GEN)
        self.assertEqual(closing(16000), 2_000_000)
        self.assertEqual(closing(16001), 2_950_000)

    def test_unclosed_and_closing_drain_rows_are_not_samples(self):
        rows = [(20000, 9_000_000),   # needs an event at 30 s: never published
                (5000, 50_000_000)]   # committed by the closing drain
        delays, late = M.row_delays(rows, self.GEN, 10000, before_us=40_000_000)
        self.assertEqual(delays, [])
        self.assertEqual(late, 1)


class CycleArithmeticTest(unittest.TestCase):
    def test_growth_compares_first_and_last_tenth(self):
        cycles = [4.0] * 10 + [5.0] * 5 + [9.0] * 5
        self.assertAlmostEqual(M.growth(cycles), 9.0 - 4.0)

    def test_growth_of_short_runs_uses_one_cycle(self):
        self.assertAlmostEqual(M.growth([4.0, 6.0, 5.0]), 1.0)
        self.assertEqual(M.growth([]), 0.0)

    def test_backlog_is_lines_published_since_previous_listing(self):
        self.assertEqual(M.backlogs([96, 480, 480, 1056]), [96, 384, 0, 576])

    def test_slow_quarter_mean(self):
        self.assertAlmostEqual(M.slow_quarter_mean([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]), 7.5)
        self.assertEqual(M.slow_quarter_mean([2.0, 1.0]), 2.0)

    def test_geomean(self):
        self.assertAlmostEqual(M.geomean([1.0, 4.0, 16.0]), 4.0)


class ResultLineTest(unittest.TestCase):
    def test_valid_json_under_comma_decimal_locale(self):
        old = locale.setlocale(locale.LC_ALL)
        for name in ("de_DE.UTF-8", "de_DE.utf8", "fr_FR.UTF-8"):
            try:
                locale.setlocale(locale.LC_ALL, name)
                break
            except locale.Error:
                continue
        try:
            line = M.result_line(True, 12, 0, {"latency_s": (1.25, "s"),
                                               "throughput_per_s": (2274.5, "1/s")})
        finally:
            locale.setlocale(locale.LC_ALL, old)
        parsed = json.loads(line)
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(parsed["metrics"]["latency_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual(parsed["metrics"]["throughput_per_s"]["value"], 2274.5)
        self.assertNotIn("\n", line)


if __name__ == "__main__":
    unittest.main()
