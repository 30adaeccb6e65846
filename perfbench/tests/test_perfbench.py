"""Self-tests of the benchmark's helpers.

    python3 -m unittest discover -s perfbench/tests     # from the repository root

The digest test builds the program and the benchmark (perfbench/build.py)
and runs perfbench.SelfTest in a local Spark session.
"""
import json
import pathlib
import statistics
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent.parent


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        for n in (22, 24, 27, 40, 50, 100, 1000):
            values = [float(i) for i in range(n)]
            value, p, count = stats.tail(values)
            self.assertEqual(count, n)
            rank = stats.nearest_rank(sorted(values), p)
            self.assertGreaterEqual(n - 1 - rank, stats.TAIL_BEYOND)
            # the next percentile up would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - 1 - stats.nearest_rank(sorted(values), p + 1),
                                stats.TAIL_BEYOND)
            self.assertEqual(value, values[rank])
            self.assertGreater(rank, stats.nearest_rank(sorted(values), 50))

    def test_known_percentiles(self):
        self.assertEqual(stats.tail(range(22))[1:], (54, 22))
        self.assertEqual(stats.tail(range(27))[1:], (62, 27))
        self.assertEqual(stats.tail(range(50))[1:], (80, 50))
        self.assertEqual(stats.tail(range(100))[1:], (90, 100))

    def test_too_few_samples_refuse_instead_of_collapsing_onto_the_median(self):
        for n in (20, 21):
            with self.assertRaises(ValueError):
                stats.tail(range(n))

    def test_order_of_samples_does_not_matter(self):
        values = [0.5, 3.0, 1.0, 2.0] * 10
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))

    def test_tail_above_median_on_a_skewed_sample(self):
        values = [1.0] * 30 + [5.0] * 12
        value, p, _ = stats.tail(values)
        self.assertEqual(value, 5.0)
        self.assertGreater(value, stats.median(values))


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [3.0, 1.0, 2.0, 5.0, 4.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / statistics.median(values))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class OutputCheckTest(unittest.TestCase):
    def raw(self, outputs_by_pass, checks=()):
        calls = [{"pass": p, "index": i, "name": f"c{i}", "output": out, "ok": True}
                 for p, outs in enumerate(outputs_by_pass) for i, out in enumerate(outs)]
        return {"calls": calls, "checks": [{"name": n, "ok": ok} for n, ok in checks]}

    def test_repeating_digests_pass(self):
        attempted, failed, _ = run.check_outputs(self.raw([["a", "b"], ["a", "b"]]), "x", 12345)
        self.assertEqual((attempted, failed), (4, 0))

    def test_a_digest_that_does_not_repeat_is_a_wrong_call(self):
        _, failed, notes = run.check_outputs(self.raw([["a", "b"], ["a", "c"]]), "x", 12345)
        self.assertEqual(failed, 1)
        self.assertIn("c1", notes[0])

    def test_failed_checks_count(self):
        attempted, failed, _ = run.check_outputs(
            self.raw([["a"]], checks=[("golden", False), ("other", True)]), "x", 12345)
        self.assertEqual((attempted, failed), (3, 1))

    def test_expected_digests_cover_every_workload(self):
        expected = json.loads(run.EXPECTED.read_text())
        self.assertEqual(set(expected), set(run.WORKLOADS))


class BenchmarkSpecTest(unittest.TestCase):
    def test_spec_names_the_workloads_run_py_knows(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class DigestTest(unittest.TestCase):
    def test_scala_digest_self_test(self):
        classes = build.build(ROOT)
        cmd = ["java"] + run.JVM_OPTS + [
            "-cp", f"{classes}:{build.spark_jars() / '*'}", "perfbench.SelfTest"]
        result = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                text=True, timeout=300)
        self.assertEqual(result.returncode, 0, result.stdout + result.stderr[-4000:])


if __name__ == "__main__":
    unittest.main()
