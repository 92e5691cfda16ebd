"""Tests of the benchmark's own arithmetic and verification.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pandas as pd

import metrics
import verify


def record(executions, failures=(), attempted=None, passes=None):
    return {"executions": executions, "failures": list(failures),
            "attempted": len(executions) if attempted is None else attempted,
            "passes": passes or [{"pass": 0, "traced": False, "wall_ms": 1000.0,
                                  "cpu_s": 2.0, "heap_old_bytes": 0}],
            "setup_s": [3.0, 1.0, 2.0]}


def execution(query, seconds, kind="measured"):
    return {"pass": 0, "kind": kind, "query": query, "t": [0.0, 0.0, 0.0, seconds * 1000.0]}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        # jobs [10,40] and [20,50] overlap on [20,40]: they cover 40, not 60
        self.assertEqual(metrics.self_time((0, 100), [(10, 40), (20, 50)]), 60)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 60), (20, 30), (70, 80)]), 40)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 100), [(-50, 10), (90, 200)]), 80)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((5, 25), []), 20)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_percentile_follows_the_sample_count(self):
        value, pct, n = metrics.tail([float(x) for x in range(20, 0, -1)])
        self.assertEqual((value, n), (10.0, 20))
        self.assertAlmostEqual(pct, 50.0)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail([1.0] * 10))
        self.assertIsNotNone(metrics.tail([1.0] * 11))


class Failures(unittest.TestCase):
    def test_failed_execution_counts_and_is_not_timed(self):
        ex = [execution("a", 1.0), execution("b", 3.0),
              {"pass": 0, "kind": "measured", "query": "c", "error": "boom"}]
        rec = record(ex, failures=["measured pass 0 c: boom"])
        self.assertEqual(sorted(metrics.durations(rec, "measured")), [1.0, 3.0])
        m, _ = metrics.end_to_end(rec)
        self.assertEqual(m["job_s_p50"], 2.0)
        self.assertEqual(metrics.fail_counts(rec, []), (3, 1))

    def test_mismatch_and_unverified_count_as_failed(self):
        rec = record([execution("a", 1.0), execution("b", 1.0)])
        checks = [("a", 0, "mismatch", "x"), ("b", None, "unverified", "no reference")]
        self.assertEqual(metrics.fail_counts(rec, checks), (2, 2))

    def test_job_s_p50_follows_no_single_outlier(self):
        # pooled, the median of [1, 1, 9, 3, 3, 3] would be 3: the middle
        # of two queries; per query the medians are 1 and 3
        ex = [execution("a", x) for x in (1.0, 1.0, 9.0)] + [execution("b", 3.0)] * 3
        m, _ = metrics.end_to_end(record(ex))
        self.assertEqual(m["job_s_p50"], 2.0)

    def test_setup_is_the_median_of_the_setups(self):
        m, _ = metrics.end_to_end(record([execution("a", 1.0)]))
        self.assertEqual(m["setup_s"], 2.0)


class Leaks(unittest.TestCase):
    @staticmethod
    def passes(graft_dirs, local_bytes):
        return {"passes": [{"tmp_graft": [0, d], "staging": [0, 0], "local_dirs_bytes": b}
                           for d, b in zip(graft_dirs, local_bytes)]}

    def test_steady_scratch_is_not_a_leak(self):
        self.assertEqual(metrics.leaks(self.passes([1, 1, 1], [5e6, 4e6, 5e6])), [])

    def test_a_new_replay_dir_per_pass_is_a_leak(self):
        self.assertTrue(metrics.leaks(self.passes([1, 2, 3], [0, 0, 0])))

    def test_local_dirs_growing_every_pass_is_a_leak(self):
        self.assertTrue(metrics.leaks(self.passes([1, 1, 1], [1e6, 3e6, 5e6])))

    def test_local_dirs_growing_over_two_passes_is_a_leak(self):
        self.assertTrue(metrics.leaks(self.passes([1, 1], [1e6, 3e6])))

    def test_growth_under_a_megabyte_is_not_a_leak(self):
        self.assertEqual(metrics.leaks(self.passes([1, 1], [1e6, 1.5e6])), [])


class Verification(unittest.TestCase):
    expected = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})

    def test_same_rows_in_any_order_pass(self):
        self.assertIsNone(verify.compare(self.expected, self.expected.iloc[::-1]))

    def test_planted_wrong_row_is_caught(self):
        wrong = self.expected.copy()
        wrong.loc[1, "v"] = 1.25
        self.assertIn("values", verify.compare(self.expected, wrong))

    def test_missing_and_extra_rows_are_caught(self):
        self.assertIn("rows", verify.compare(self.expected, self.expected.iloc[:2]))
        dup = pd.concat([self.expected, self.expected.iloc[:1]])
        self.assertIn("rows", verify.compare(self.expected, dup))

    def test_approximate_compare_catches_a_wrong_value(self):
        near = self.expected.assign(v=self.expected["v"] * (1 + 1e-12))
        self.assertIsNone(verify.compare_approx(self.expected, near, ["k"], "v"))
        wrong = self.expected.assign(v=[0.5, 1.5, 2.6])
        self.assertIn("values", verify.compare_approx(self.expected, wrong, ["k"], "v"))

    def test_sensor_reference_covariance(self):
        # two classes, three bins; B is all zeros so X = A
        a = ["2017-02-06 00:00:00.000000;n;T;temp;1.0;C",
             "2017-02-06 00:02:00.000000;n;T;temp;2.0;C",
             "2017-02-06 00:04:00.000000;n;T;temp;6.0;C",
             "2017-02-06 00:00:00.000000;n;H;hum;3.0;C",
             "2017-02-06 00:02:00.000000;n;H;hum;3.0;C",
             "2017-02-06 00:04:00.000000;n;H;hum;6.0;C",
             "2017-02-06 00:04:10.000000;n;Chemsense ID;mac_address;9;C",
             "short;line"]
        b = [f"{line.split(';')[0]};n;{c};0.0;C" for line in a[:6]
             for c in [";".join(line.split(";")[2:4])]]
        with tempfile.TemporaryDirectory() as d:
            for name, lines in (("sensorA.txt", a), ("sensorB.txt", b)):
                with open(os.path.join(d, name), "w") as f:
                    f.write("\n".join(lines) + "\n")
            cov = verify.sensor_reference(d).set_index(["c", "cp"])["v"]
        # T = [1,2,6] (mean 3), H = [3,3,6] (mean 4); n - 1 = 2
        self.assertAlmostEqual(cov[("T;temp", "T;temp")], (4 + 1 + 9) / 2)
        self.assertAlmostEqual(cov[("T;temp", "H;hum")], (2 + 1 + 6) / 2)
        self.assertAlmostEqual(cov[("H;hum", "H;hum")], (1 + 1 + 4) / 2)
        self.assertEqual(len(cov), 4)


if __name__ == "__main__":
    unittest.main()
