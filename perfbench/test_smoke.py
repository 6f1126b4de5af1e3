"""Smoke runs at sf0.001: every workload untraced, session-warm traced.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each run goes through run.py exactly as a measured run does (build,
harness JVM, output checks), with a one-second window: one pass.
"""
import json
import os
import subprocess
import sys
import unittest

import run as bench

E2E = {"setup_s", "cpu_s", "mem_mb"}


def smoke(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(bench.HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"],
                       cwd=bench.ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} exited with {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def test_every_workload_runs_clean(self):
        for w in bench.WORKLOADS:
            with self.subTest(workload=w):
                r = smoke(w, trace=0)
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(set(r["metrics"]), E2E)
                self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()))

    def test_traced_run_reports_the_layer_split(self):
        r = smoke("session-warm", trace=1)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual(m["fail_ratio"], 0)
        self.assertGreater(m["exec_jobs"], 0)
        self.assertGreater(m["build.share"] + m["exec.share"], 0.5)
        self.assertLess(m["self.share"], 0.5)


if __name__ == "__main__":
    unittest.main()
