"""Seeded plan generation: the same seed gives the same plan."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import plan  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "workloads.json")) as f:
    CFG = json.load(f)


def make(workload, seed):
    return plan.make_plan(CFG, workload, seed, 5, 0, 4, "/data", "/warm", "/out", "/scratch")


def sequence(p):
    return [(oid, p["ops"][oid]) for unit in p["units"] for seg in unit for oid in seg["ops"]]


class PlanTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in CFG["workloads"]:
            self.assertEqual(make(w, 7), make(w, 7), w)

    def test_other_seed_other_order(self):
        for w in CFG["workloads"]:
            self.assertNotEqual(sequence(make(w, 7)), sequence(make(w, 8)), w)

    def test_other_seed_other_parameters(self):
        a, b = make("interactive", 7), make("interactive", 8)
        sql_a = {p["sql"] for _, p in sequence(a) if p["kind"] == "sql"}
        sql_b = {p["sql"] for _, p in sequence(b) if p["kind"] == "sql"}
        self.assertTrue(sql_a)
        self.assertNotEqual(sql_a, sql_b)
        self.assertNotEqual(a["expect"], b["expect"])

    def test_interactive_repeats_follow_their_first_run(self):
        p = make("interactive", 3)
        block = p["units"][0][0]["ops"]
        conn = CFG["workloads"]["interactive"]["connector"]
        self.assertEqual(len(block) - len(set(block)), len(conn["repeats"]))
        for oid in set(block):
            self.assertIn(oid, p["ops"])
            first = block.index(oid)
            for k, other in enumerate(block):
                if other == oid and k != first:
                    self.assertLessEqual(k - first, 4 + len(conn["repeats"]))
        repeated = sorted(p["ops"][o]["name"] for o in set(block) if block.count(o) > 1)
        self.assertEqual(repeated, sorted(conn["repeats"]))

    def test_every_generated_query_has_an_expectation(self):
        p = make("interactive", 5)
        for oid, op in p["ops"].items():
            if op["kind"] == "sql":
                self.assertIn(oid, p["expect"])

    def test_mix_is_fixed_across_seeds(self):
        """Only order and parameters vary, so latency statistics compare
        across seeds."""
        def mix(p):
            return sorted(op.get("name") for _, op in sequence(p))
        for w in ("curation_batch", "stream_replay"):
            self.assertEqual(mix(make(w, 1)), mix(make(w, 2)))
        a, b = make("interactive", 1), make("interactive", 2)
        self.assertEqual(len(sequence(a)), len(sequence(b)))
        self.assertEqual(sorted(n for n in mix(a) if n.startswith(("q_", "dd_", "ann_"))),
                         sorted(n for n in mix(b) if n.startswith(("q_", "dd_", "ann_"))))


if __name__ == "__main__":
    unittest.main()
