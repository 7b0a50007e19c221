"""Output check: fingerprints and how a mismatch is reported."""
import datetime
import decimal
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import check  # noqa: E402


class FingerprintTest(unittest.TestCase):
    def test_order_independent(self):
        rows = [(1, "a"), (2, "b"), (3, None)]
        self.assertEqual(check.fingerprint(["k", "v"], rows),
                         check.fingerprint(["k", "v"], list(reversed(rows))))

    def test_column_order_and_case_do_not_matter(self):
        self.assertEqual(check.fingerprint(["K", "v"], [(1, "a")]),
                         check.fingerprint(["v", "k"], [("a", 1)]))

    def test_numeric_spellings_agree(self):
        self.assertEqual(check.canon(5), check.canon(5.0))
        self.assertEqual(check.canon(decimal.Decimal("5.00")), check.canon(5))
        self.assertEqual(check.canon(decimal.Decimal("0.10")), check.canon(0.1))
        self.assertEqual(check.canon(0.1 + 0.2), check.canon(0.3))

    def test_timestamps_compare_in_utc(self):
        naive = datetime.datetime(2024, 1, 1, 12, 0)
        aware = datetime.datetime(2024, 1, 1, 13, 0,
                                  tzinfo=datetime.timezone(datetime.timedelta(hours=1)))
        self.assertEqual(check.canon(naive), check.canon(aware))

    def test_different_rows_differ(self):
        a = check.fingerprint(["k"], [(1,), (2,)])
        self.assertNotEqual(a, check.fingerprint(["k"], [(1,), (3,)]))
        self.assertNotEqual(a, check.fingerprint(["k"], [(1,), (2,), (2,)]))


class CheckOutputsTest(unittest.TestCase):
    OPS = {"q_a": {"kind": "entry", "name": "q_a"},
           "q_b": {"kind": "entry", "name": "q_b"},
           "c0": {"kind": "sql", "name": "range_agg", "sql": "SELECT 1"}}

    def setUp(self):
        self.fp_a = check.fingerprint(["x"], [(1,), (2,)])
        self.fp_b = check.fingerprint(["y"], [("z",)])
        self.fp_c = check.fingerprint(["n"], [(10,)])
        self.answers = {"ORACLE_A": self.fp_a, "RANGE_C": self.fp_c}

    def run_check(self, stored, got=None):
        got = got or {"q_a": self.fp_a, "q_b": self.fp_b, "c0": self.fp_c}
        return check.check_outputs(["q_a", "q_b", "c0"], self.OPS, got,
                                   {"q_a": "ORACLE_A"}, {"c0": "RANGE_C"}, stored,
                                   self.answers.__getitem__)

    def test_all_match(self):
        res = self.run_check({"q_b": self.fp_b})
        self.assertTrue(all(r["ok"] for r in res.values()))
        self.assertEqual({k: r["source"] for k, r in res.items()},
                         {"q_a": "oracle", "q_b": "stored", "c0": "range_sql"})

    def test_corrupted_stored_fingerprint_fails_that_op(self):
        corrupted = dict(self.fp_b, hash="0000000000000000")
        res = self.run_check({"q_b": corrupted})
        self.assertFalse(res["q_b"]["ok"])
        self.assertTrue(res["q_a"]["ok"] and res["c0"]["ok"])

    def test_missing_expectation_fails(self):
        self.assertFalse(self.run_check({})["q_b"]["ok"])

    def test_op_that_threw_fails(self):
        res = self.run_check({"q_b": self.fp_b},
                             got={"q_a": None, "q_b": self.fp_b, "c0": self.fp_c})
        self.assertFalse(res["q_a"]["ok"])


if __name__ == "__main__":
    unittest.main()
