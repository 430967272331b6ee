"""Self-test of the harness's failure reporting (runs the benchmark, ~1 min).

An operation that throws and one whose output disagrees with its oracle are
injected into a batch workload. Both must be reported as failed, count in
`failed`, stay out of every timing, make the command exit nonzero, and the
run must still append its ledger record.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
LEDGER = os.path.join(ROOT, ".bench_build", "ledger.jsonl")


def ledger_lines():
    if not os.path.exists(LEDGER):
        return []
    with open(LEDGER) as f:
        return f.read().splitlines()


class InjectedFailuresTest(unittest.TestCase):
    def test_injected_failures_are_loud(self):
        before = ledger_lines()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "metrics-sf0.1",
             "--seed", "1", "--seconds", "1", "--trace", "0", "--inject-failures"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(out["correct"])
        after = ledger_lines()
        self.assertEqual(after[:len(before)], before)
        self.assertEqual(len(after), len(before) + 1)
        rec = json.loads(after[-1])
        ops = rec["ops"]
        passes = ops["q_coverage"]["n"]
        # every execution of both injected operations failed, nothing else did
        self.assertEqual(out["failed"], 2 * passes)
        self.assertEqual(out["attempted"], 5 * passes)
        self.assertEqual(ops["selftest_throw"]["ok"], 0)
        self.assertIn("injected failure", ops["selftest_throw"]["status"])
        self.assertEqual(ops["selftest_wrong"]["ok"], 0)
        self.assertIn("disagrees", ops["selftest_wrong"]["status"])
        self.assertEqual(rec["failed_frac"], out["failed"] / out["attempted"])
        # the real operations still passed their oracle check and were timed
        for name in ("q_long_tail", "q_coverage", "q_novelty"):
            self.assertEqual(ops[name]["status"], "ok")
            self.assertEqual(ops[name]["ok"], passes)
        # timings exclude the failed operations: op_p50_s is the median of the
        # successful executions alone
        good = [t for n in ("q_long_tail", "q_coverage", "q_novelty") for t in ops[n]["times_s"]]
        self.assertEqual(out["metrics"]["op_p50_s"]["value"], statistics.median(good))


if __name__ == "__main__":
    unittest.main()
