"""Smoke test of the benchmark itself, at toy sizes: a small retained
history, a short ladder and three board keys. It checks that every metric
named in BENCHMARK.json prints with its unit, in the untraced and the traced
run, and that both audits run (the board's oracle compare and the lane's
exactly-once audit, also over the continuous variant in the traced board
run).

Run from the root of a checkout:
    python3 -m unittest discover -s graftbench/tests -v
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join("graftbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "3", "--trace", str(trace), "--toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {r.returncode}:\n"
                             f"{r.stdout[-3000:]}\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, audit_marker):
        notes, res = bench(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertIsInstance(res["failed"], int)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        audits = [n for n in notes if audit_marker in n]
        self.assertTrue(audits, f"no '{audit_marker}' line in the output")
        self.audit_line = audits[0]
        self.notes = notes
        return res

    def test_board(self):
        res = self.check("board", 0, "oracle compare:")
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_microbatch(self):
        res = self.check("mq_microbatch", 0, "audit offered=")
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertIn(" lost=0 ", self.audit_line)

    def test_traced_microbatch(self):
        res = self.check("mq_microbatch", 1, "audit offered=")
        m = res["metrics"]
        self.assertTrue(res["correct"])
        self.assertEqual(m["serde.input_mismatch"]["value"], 0)
        self.assertEqual(m["serde.output_mismatch"]["value"], 0)
        self.assertGreater(m["baseline.drain_local1_msgs_per_s"]["value"], 0)
        self.assertGreater(m["topiclog.read_tail_ms"]["value"], 0)

    def test_traced_board(self):
        res = self.check("board", 1, "oracle compare:")
        m = res["metrics"]
        self.assertGreater(m["board.relational.jobs"]["value"], 0)
        # the continuous-trigger variant ran and was audited
        self.assertGreater(m["continuous.offered_msgs"]["value"], 0)
        self.assertTrue(any("[mq_continuous] audit offered=" in n for n in self.notes))


if __name__ == "__main__":
    unittest.main()
