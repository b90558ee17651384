"""Tests of the benchmark harness that need the JVM: the Scala self
checks (seeding, equal work for every seed, the tail rule, self time, the
fold-state rule, the output checks) and a traced `ingest` run whose
consumer is stopped before a catch-up, which must count as a failed
operation and a restart, with traced and untraced rounds in the same
fold state. They build the harness first; the ingest run takes about
two minutes.

    python3 -m unittest discover -s perfbench/tests
"""

import io
import json
import os
import subprocess
import sys
import unittest
from contextlib import redirect_stderr, redirect_stdout

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes, _ = build.build(quiet=True)

    def test_self_checks(self):
        work = os.path.join(build.BUILD, "work", "selftest")
        os.makedirs(work, exist_ok=True)
        r = subprocess.run(build.java_command(self.classes, work) + ["perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                           cwd=work, timeout=300)
        failed = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
        self.assertEqual(failed, [])
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("all checks passed", r.stdout)

    def test_unknown_arguments_are_rejected(self):
        with redirect_stderr(io.StringIO()), self.assertRaises(SystemExit) as e:
            run.main(["--workload", "olap", "--seed", "1", "--seconds", "10",
                      "--trace", "0", "--rounds", "9"])
        self.assertEqual(e.exception.code, 2)

    def test_forced_consumer_restart_counts_as_a_failure(self):
        # round 2 is the traced timed round (warm-up 0, untraced 1)
        out = io.StringIO()
        with redirect_stdout(out):
            code = run.main(["--workload", "ingest", "--seed", "5", "--seconds", "10",
                             "--trace", "1", "--force-restart-round", "2"])
        self.assertEqual(code, 0)
        lines = out.getvalue().strip().splitlines()
        record = json.loads(lines[-2])["run_record"]
        result = json.loads(lines[-1])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertEqual(result["metrics"]["streaming.restarts"]["value"], 1.0)
        self.assertGreater(record["error_rate"], 0.0)
        self.assertTrue(result["correct"], record["problems"])
        self.assertEqual([r["phase"] for r in record["rounds"]], ["warmup", "timed", "traced"])
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(
            {k: v["unit"] for k, v in result["metrics"].items()},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
