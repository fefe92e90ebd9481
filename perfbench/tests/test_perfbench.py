"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The JVM self-test builds the engine and checks that the generators are
deterministic in the seed and that the output checks count a corrupted
result; the Python tests cover the funnel's oracle comparison and the
compare tool's verdicts.
"""
import contextlib
import io
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402


class JvmSelfTest(unittest.TestCase):
    def test_generators_and_checkers(self):
        work = os.path.join(run.HERE, ".work", f"selftest-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            code = run.jvm(build.build(), "perfbench.SelfTest", [work, run.DATA], work, 600)
            with open(os.path.join(work, "jvm.log")) as f:
                log = f.read()
            self.assertEqual(code, 0, "\n".join(l for l in log.splitlines()
                                                 if l.startswith(("ok", "FAIL"))))
            self.assertNotIn("FAIL", log)
        finally:
            shutil.rmtree(work, ignore_errors=True)


class FunnelOracleCompare(unittest.TestCase):
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]

    def test_equal_in_any_order(self):
        got = run.canon(["x", "s", "v"], list(reversed(self.rows)))
        want = run.canon(["v", "x", "s"], [(r[2], r[0], r[1]) for r in self.rows])
        self.assertTrue(run.results_equal(got, want))

    def test_corrupted_value_is_a_mismatch(self):
        bad = [self.rows[0], (2, "b", 0.0), self.rows[2]]
        self.assertFalse(run.results_equal(run.canon(["x", "s", "v"], bad),
                                           run.canon(["x", "s", "v"], self.rows)))

    def test_missing_row_is_a_mismatch(self):
        self.assertFalse(run.results_equal(run.canon(["x", "s", "v"], self.rows[:2]),
                                           run.canon(["x", "s", "v"], self.rows)))


class CompareVerdicts(unittest.TestCase):
    base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def verdict(self, new, bound=0.1, better="lower"):
        return compare.verdict(self.base, new, better, bound, list(zip(self.base, new)))

    def test_same_is_no_worse(self):
        self.assertEqual(self.verdict(list(self.base)), "no worse")

    def test_slower_beyond_bound_is_worse(self):
        self.assertEqual(self.verdict([v * 1.2 for v in self.base]), "worse")

    def test_consistently_faster_is_improved(self):
        self.assertEqual(self.verdict([v * 0.9 for v in self.base]), "improved")

    def test_higher_is_better_direction(self):
        self.assertEqual(self.verdict([v * 1.2 for v in self.base], better="higher"), "improved")

    def test_wide_spread_is_unresolved(self):
        noisy = [60, 140, 70, 130, 100, 100, 65, 135, 100, 100]
        self.assertEqual(self.verdict(noisy), "unresolved")


class CompareSpreadCheck(unittest.TestCase):
    spec = {"workloads": [{"name": "w"}],
            "end_to_end": [{"name": "op_ms", "unit": "ms", "better": "lower", "bound": 0.1},
                           {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.1}]}

    def runs(self, setup):
        return {("w", 0): [{"workload": "w", "seed": i, "trace": 0, "result": {
            "failed": 0, "metrics": {"op_ms": {"value": 100.0 + i % 2, "unit": "ms"},
                                     "setup_s": {"value": v, "unit": "s"}}}}
            for i, v in enumerate(setup)]}

    def test_steady_set_passes(self):
        with contextlib.redirect_stdout(io.StringIO()):
            self.assertTrue(compare.report(self.spec, [self.runs([5.0, 5.1] * 5)]))

    def test_every_metric_spread_is_checked(self):
        with contextlib.redirect_stdout(io.StringIO()):
            self.assertFalse(compare.report(self.spec, [self.runs([4.0, 6.0] * 5)]))


if __name__ == "__main__":
    unittest.main()
