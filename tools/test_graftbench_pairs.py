#!/usr/bin/env python3
"""graftbench_pairs.py against a stubbed graftbench: no JVM runs.

    python3 tools/test_graftbench_pairs.py
"""
import json
import os
import subprocess
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import graftbench_pairs as gp  # noqa: E402


def line(throughput, p50=1000.0, setup=2.0, attempted=5, failed=0):
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": {"throughput": {"value": throughput, "unit": "work/s"},
                                   "op_p50_ms": {"value": p50, "unit": "ms"},
                                   "setup_s": {"value": setup, "unit": "s"}}})


class StubBench:
    """Replaces subprocess.run: answers from a per-checkout queue and
    records the calls in order."""

    def __init__(self, answers):
        self.answers = {k: list(v) for k, v in answers.items()}
        self.calls = []
        self.workloads = []

    def __call__(self, cmd, cwd=None, capture_output=False, text=False):
        seed = int(cmd[cmd.index("--seed") + 1])
        self.calls.append((cwd, seed))
        self.workloads.append(cmd[cmd.index("--workload") + 1])
        code, out = self.answers[cwd].pop(0)
        return subprocess.CompletedProcess(cmd, code, stdout="log line\n" + out + "\n", stderr="")


def run(argv, answers):
    stub = StubBench(answers)
    out = []
    with mock.patch.object(gp.subprocess, "run", stub), \
            mock.patch("builtins.print", lambda *a, **k: out.append(a[0]) if "file" not in k else None):
        code = gp.main(argv)
    return code, json.loads(out[-1]), stub


def only(rep):
    """The report of a one-workload run."""
    (r,) = rep["workloads"].values()
    return r


ARGS = ["--parent", "P", "--change", "C", "--workload", "cog_write"]


class PairsTest(unittest.TestCase):

    def test_alternates_sides_and_cycles_seeds(self):
        answers = {"P": [(0, line(3.0))] * 4, "C": [(0, line(6.0))] * 4}
        _, _, stub = run(ARGS + ["--pairs", "4", "--seeds", "1", "2", "3"], answers)
        self.assertEqual(stub.calls, [("P", 1), ("C", 1), ("C", 2), ("P", 2),
                                 ("P", 3), ("C", 3), ("C", 1), ("P", 1)])

    def test_gain_needs_nine_tenths_and_a_gap_over_the_parent_iqr(self):
        parent = [3.0, 3.2, 3.4, 3.6, 3.8, 3.0, 3.2, 3.4, 3.6, 3.8]
        change = [6.0] * 9 + [2.0]
        answers = {"P": [(0, line(v)) for v in parent], "C": [(0, line(v)) for v in change]}
        code, rep, _ = run(ARGS + ["--pairs", "10", "--claim", "throughput"], answers)
        m = only(rep)["metrics"]["throughput"]
        self.assertEqual((m["wins"], m["losses"]), (9, 1))
        self.assertTrue(m["gap_exceeds_parent_iqr"] and m["wins_nine_tenths"] and m["gain"])
        self.assertEqual(m["parent"]["median"], 3.4)
        self.assertEqual(code, 0)
        # two losses of ten: no gain, and the claim's exit code says so
        answers = {"P": [(0, line(v)) for v in parent],
                   "C": [(0, line(v)) for v in [6.0] * 8 + [2.0, 2.0]]}
        code, rep, _ = run(ARGS + ["--pairs", "10", "--claim", "throughput"], answers)
        self.assertFalse(only(rep)["metrics"]["throughput"]["gain"])
        self.assertEqual(code, 1)

    def test_a_gap_inside_the_parent_spread_is_no_gain(self):
        parent = [3.0, 5.0, 3.0, 5.0]
        answers = {"P": [(0, line(v)) for v in parent], "C": [(0, line(v + 0.5)) for v in parent]}
        _, rep, _ = run(ARGS + ["--pairs", "4"], answers)
        m = only(rep)["metrics"]["throughput"]
        self.assertEqual(m["wins"], 4)
        self.assertFalse(m["gap_exceeds_parent_iqr"])
        self.assertFalse(m["gain"])

    def test_failed_runs_are_never_numbers(self):
        answers = {
            "P": [(0, line(3.0)), (1, ""), (0, line(3.0)), (0, "not json")],
            "C": [(0, line(6.0)), (0, line(6.0)), (0, line(0.5, attempted=5, failed=2)),
                  (0, line(6.0))],
        }
        _, rep, _ = run(ARGS + ["--pairs", "4"], answers)
        rep = only(rep)
        self.assertEqual(rep["sides"]["parent"]["failed_runs"], 2)
        self.assertEqual(rep["sides"]["change"]["failed_runs"], 1)
        self.assertEqual((rep["sides"]["change"]["failed_ops"],
                          rep["sides"]["change"]["attempted_ops"]), (2, 20))
        self.assertEqual(rep["sides"]["parent"]["attempted_ops"], 10)
        m = rep["metrics"]["throughput"]
        self.assertEqual(m["parent"]["values"], [3.0, 3.0])
        self.assertEqual(m["change"]["values"], [6.0, 6.0, 6.0])
        # only pair 0 has both sides: one win, and 1 of 4 is no gain
        self.assertEqual((m["wins"], m["losses"]), (1, 0))
        self.assertFalse(m["gain"])

    def test_regression_past_the_bound_is_flagged(self):
        answers = {"P": [(0, line(4.0, p50=1000.0))] * 2, "C": [(0, line(4.0, p50=1300.0))] * 2}
        _, rep, _ = run(ARGS + ["--pairs", "2"], answers)
        self.assertTrue(only(rep)["metrics"]["op_p50_ms"]["worse_than_bound"])
        self.assertFalse(only(rep)["metrics"]["throughput"]["worse_than_bound"])

    def test_two_workloads_report_separately_and_claim_the_first(self):
        # cog_write gains; dedup does not move, except a slower op_p50_ms
        answers = {"P": [(0, line(3.0))] * 10 + [(0, line(5.0, p50=1000.0))] * 10,
                   "C": [(0, line(6.0))] * 10 + [(0, line(5.0, p50=1400.0))] * 10}
        code, rep, stub = run(ARGS + ["dedup", "--pairs", "10", "--claim", "throughput"],
                              answers)
        self.assertEqual(list(rep["workloads"]), ["cog_write", "dedup"])
        self.assertNotIn("runs", rep["workloads"]["cog_write"])
        self.assertEqual(stub.workloads, ["cog_write"] * 20 + ["dedup"] * 20)
        write, dedup = rep["workloads"]["cog_write"], rep["workloads"]["dedup"]
        self.assertTrue(write["metrics"]["throughput"]["gain"])
        self.assertEqual(code, 0)
        self.assertEqual(dedup["metrics"]["throughput"]["wins"], 0)
        self.assertFalse(dedup["metrics"]["throughput"]["gain"])
        self.assertFalse(dedup["metrics"]["throughput"]["worse_than_bound"])
        self.assertTrue(dedup["metrics"]["op_p50_ms"]["worse_than_bound"])
        self.assertEqual(dedup["metrics"]["op_p50_ms"]["change"]["median"], 1400.0)


if __name__ == "__main__":
    unittest.main()
