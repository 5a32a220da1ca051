"""Unit tests of the summariser's failure accounting and of the
canonical row text the oracle comparison rests on.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import unittest

import oracle
import summarise


def op(pass_, kind, seconds, ok=True, idx=None):
    return {"pass": pass_, "kind": kind, "ok": ok, "idx": idx, "name": f"q{idx}",
            "digest": f"d{idx}", "rows": 1, "sample": [],
            "build_s": seconds / 2, "plan_s": 0.0, "exec_s": seconds / 2}


def passes(n, times, extra=()):
    return [op(p, "query", t, idx=i) for p in range(n)
            for i, t in enumerate(times)] + list(extra)


# the harness's warm passes when every run makes three after the cold one
WARM = [2, 3]


def result(ops, checks=()):
    return {"ops": ops, "session_s": 1.0, "fixture_s": [2.0],
            "warm_passes": WARM, "checks": list(checks)}


class FailureAccounting(unittest.TestCase):
    def test_warm_passes_are_the_harness_pass_numbers(self):
        self.assertEqual(summarise.warm_set(passes(4, [0.1]), WARM), {2, 3})
        # passes past the warm ones are run but not timed in
        self.assertEqual(summarise.warm_set(passes(9, [0.1]), WARM), {2, 3})

    def test_a_throwing_operation_counts_and_never_lowers_a_time(self):
        base = passes(5, [0.2, 0.3, 0.4])
        # an extra operation fails fast in every pass
        throwing = [op(p, "query", 0.001, ok=False, idx=9) for p in range(5)]
        ok0, att0, fail0, m0 = summarise.summary(result(base))
        ok1, att1, fail1, m1 = summarise.summary(result(base + throwing))
        self.assertEqual((ok0, fail0), (True, 0))
        self.assertEqual((ok1, fail1, att1), (False, 5, att0 + 5))
        self.assertEqual(m1, m0)

    def test_an_operation_that_starts_failing_voids_the_run(self):
        # the 0.4 s operation throws fast in the warm passes: its time
        # leaves the pass sums, which would look 0.4 s faster, so the run
        # is reported as not correct
        ops = passes(5, [0.2, 0.3, 0.4])
        for o in ops:
            if o["idx"] == 2 and o["pass"] in WARM:
                o["ok"], o["exec_s"], o["build_s"] = False, 0.0005, 0.0005
        correct, attempted, failed, m = summarise.summary(result(ops))
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (15, 2))
        self.assertAlmostEqual(m["warm_pass_s"], 0.5)

    def test_rows_that_differ_from_the_oracle_fail_the_run(self):
        ops = passes(5, [0.2, 0.3])
        want = {"q0": {"digest": "d0", "rows": 1, "sample": []},
                "q1": {"digest": "other", "rows": 1, "sample": ["s1:x"]}}
        summarise.mark_mismatches(ops, want)
        correct, attempted, failed, _ = summarise.summary(result(ops))
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (10, 5))
        self.assertTrue(all(o["ok"] == (o["idx"] == 0) for o in ops))

    def test_a_failed_state_check_fails_the_run(self):
        correct, _, failed, _ = summarise.summary(
            result(passes(5, [0.2]), checks=["pass 1 table ks.d: 3 cells"]))
        self.assertEqual((correct, failed), (False, 0))

    def test_background_work_is_in_the_pass_but_not_the_latency(self):
        ops = passes(4, [0.01, 0.02, 0.03],
                     [op(p, "compact", 1.0, idx=9) for p in range(4)])
        correct, _, _, m = summarise.summary(
            dict(result(ops), fixture_s=[3.0, 2.0, 4.0]))
        self.assertTrue(correct)
        self.assertAlmostEqual(m["warm_pass_s"], 1.06)
        self.assertAlmostEqual(m["op_gmean_ms"], (10 * 20 * 30) ** (1 / 3))
        self.assertAlmostEqual(m["setup_s"], 4.0)
        self.assertAlmostEqual(m["cold_pass_s"], 1.06)


class CanonicalRows(unittest.TestCase):
    def test_values_match_the_harness_encoding(self):
        # the strings Canon.scala emits for the same values
        self.assertEqual(oracle.canon(1.5), "f3ff8000000000000")
        self.assertEqual(oracle.canon(-0.0), "f8000000000000000")
        self.assertEqual(oracle.canon(7), "i7")
        self.assertEqual(oracle.canon(True), "b1")
        self.assertEqual(oracle.canon("é|"), "s3:é|")
        self.assertEqual(oracle.canon(datetime.datetime(1970, 1, 1, 0, 0, 1)), "t1000000")
        self.assertEqual(oracle.canon(datetime.date(1970, 1, 3)), "d2")
        self.assertEqual(oracle.canon(decimal.Decimal("12.500")), "n12.5")
        self.assertEqual(oracle.canon([1, None]), "[i1,N]")

    def test_columns_are_ordered_by_name(self):
        self.assertEqual(list(oracle.lines(["b", "a"], [(1, 2)])), ["a|b", "i2|i1"])


if __name__ == "__main__":
    unittest.main()
