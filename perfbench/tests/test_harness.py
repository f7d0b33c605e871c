"""Harness checks that need the built program (a Spark distribution with
its Scala compiler): the open-loop schedule, the digest, and the
correctness gate failing a run on a planted wrong digest."""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


class Harness(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = build.build(quiet=True)

    def test_open_loop_keeps_its_schedule_and_digest_ignores_row_order(self):
        out = subprocess.run(["java"] + run.JAVA_OPTS +
                             ["-cp", self.cp, "perfbench.SelfTest"],
                             capture_output=True, text=True, timeout=170, cwd=build.ROOT)
        self.assertEqual(out.returncode, 0, (out.stdout + out.stderr)[-3000:])
        r = json.loads(out.stdout.strip().splitlines()[-1])
        # a sink stalling 300 ms per landing: the run still ends on schedule,
        # and the stall shows as lateness instead of a slower rate
        self.assertTrue(r["open_loop_ok"], r)
        self.assertGreaterEqual(r["open_loop_lateness_max_s"], 0.29)
        self.assertTrue(r["digest_ok"], r)

    def test_planted_wrong_digest_fails_the_run(self):
        with open(os.path.join(HERE, "expected", "analytics_digests.json")) as fh:
            good = json.load(fh)
        q = sorted(good)[0]
        bad = dict(good, **{q: "1:1"})
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=build.build_dir(),
                                         delete=False) as fh:
            json.dump(bad, fh)
        try:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", "analytics_warm", "--seed", "1",
                                "--seconds", "1", "--expected", fh.name],
                               capture_output=True, text=True, timeout=180, cwd=build.ROOT)
        finally:
            os.unlink(fh.name)
        self.assertNotEqual(p.returncode, 0)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 1)
        detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
        self.assertEqual([c["name"] for c in detail["checks_failed"]], [f"digest:{q}"])


if __name__ == "__main__":
    unittest.main()
