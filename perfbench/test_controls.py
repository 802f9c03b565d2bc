"""Negative controls: the benchmark must flag a planted slowdown and a
planted one-row corruption.

    python3 perfbench/test_controls.py        # from the repository root

Each test runs perfbench/run.py, about a minute per run on a 4-core host.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise AssertionError("run.py %s exited with %d" % (" ".join(args), r.returncode))
    return json.loads(r.stdout.strip().splitlines()[-1])


def bound(metric):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == metric)


class NegativeControls(unittest.TestCase):

    def test_slowdown_around_one_stage_call_exceeds_the_run_s_bound(self):
        # curate_corpus makes one stage call (Runner.curate), so a 1.3x
        # slowdown around it is a 1.3x slowdown of run_s. A longer window
        # than the benchmark's gives a median over several runs per side.
        args = ["--workload", "curate_corpus", "--seed", "1", "--seconds", "30", "--trace", "0"]
        base = bench(*args)
        slow = bench(*(args + ["--plant-slow", "curate=1.3"]))
        self.assertTrue(base["correct"] and slow["correct"])
        ratio = slow["metrics"]["run_s"]["value"] / base["metrics"]["run_s"]["value"]
        self.assertGreater(ratio, 1 + bound("run_s"), "planted 1.3x slowdown not flagged")

    def test_one_corrupted_row_fails_the_run(self):
        res = bench("--workload", "dag_full", "--seed", "1", "--seconds", "0", "--trace", "0",
                    "--plant-corrupt", "validated")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])

    def test_unplanted_run_is_correct(self):
        res = bench("--workload", "dag_full", "--seed", "1", "--seconds", "0", "--trace", "0")
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
