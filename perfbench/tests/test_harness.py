"""Runs the JVM self-test (scala/SelfTest.scala) after building.

Covers the digest's order-insensitivity, the swell arg-max tie rule
against SwellPipeline.dailyMax, the triangle reference against
Graph.triangleCounts, and failure accounting for a deliberately
throwing op. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import run  # noqa: E402


class SelfTest(unittest.TestCase):
    def test_jvm_selftest(self):
        root = HERE.parent
        build.ensure_built(root)
        run_dir = Path(tempfile.mkdtemp(dir=root / ".bench_build"))
        try:
            (run_dir / "tmp").mkdir()
            r = subprocess.run(
                run.java_cmd(root, run_dir, "graft.perfbench.SelfTest") +
                [str(run_dir)], stdout=subprocess.PIPE,
                stderr=subprocess.PIPE, text=True, timeout=600, cwd=run_dir)
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            self.assertIn("selftest ok", r.stdout)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
