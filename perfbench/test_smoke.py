"""The benchmark's own test: every workload at a tenth of its size, traced and
untraced, prints each metric named in BENCHMARK.json with its unit, and
every output check passes.

    python3 perfbench/test_smoke.py
"""
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


class SmokeTest(unittest.TestCase):
    def test_smoke(self):
        r = subprocess.run([sys.executable, RUN, "--smoke"],
                           stdout=subprocess.PIPE, timeout=1800)
        self.assertEqual(r.returncode, 0)
        self.assertEqual(r.stdout.decode().strip().splitlines()[-1],
                         '{"smoke": true}')


if __name__ == "__main__":
    unittest.main()
