"""Self-tests of the benchmark's refusals; none of them starts Spark.

    python3 -m pytest perfbench/test_selftest.py
    python3 perfbench/test_selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")


def _run(args, cwd=ROOT, preexec_fn=None, run_py=RUN):
    # nothing may leak the engine in through the environment
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, run_py, "--workload", "bulk_tokens", "--seed",
         "1", "--seconds", "1", "--trace", "0", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=120,
        preexec_fn=preexec_fn)


def _has_result(stdout: str) -> bool:
    for line in stdout.splitlines():
        try:
            if "metrics" in json.loads(line):
                return True
        except ValueError:
            continue
    return False


class CoreRefusal(unittest.TestCase):
    def test_more_cores_than_obtained_is_refused(self):
        obtained = len(os.sched_getaffinity(0))
        out = _run(["--cores", str(obtained + 1)])
        self.assertEqual(out.returncode, 3, out.stderr)
        self.assertIn("refusing", out.stderr)
        self.assertFalse(_has_result(out.stdout))

    def test_affinity_narrower_than_request_is_refused(self):
        # what `taskset -c 0-15` does on a smaller machine: the request
        # is accepted and fewer cores are granted
        if len(os.sched_getaffinity(0)) < 2:
            self.skipTest("needs two cores to narrow the affinity")
        one = min(os.sched_getaffinity(0))
        out = _run(["--cores", "2"],
                   preexec_fn=lambda: os.sched_setaffinity(0, {one}))
        self.assertEqual(out.returncode, 3, out.stderr)
        self.assertIn("may run on 1", out.stderr)
        self.assertFalse(_has_result(out.stdout))


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_engine(self):
        # only BENCHMARK.json and the benchmark's own files
        work = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            out = _run([], cwd=bare,
                       run_py=os.path.join(bare, "perfbench", "run.py"))
        self.assertNotEqual(out.returncode, 0)
        self.assertFalse(_has_result(out.stdout))


if __name__ == "__main__":
    unittest.main()
