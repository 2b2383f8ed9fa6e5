"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The Scala self-tests (perfbench.SelfTest) check that the same seed gives
the same op stream and CSV bytes, that percentiles refuse small samples,
and that each workload's checker rejects a wrong result. The Python tests
check the result line and the command's behaviour without the engine.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

ROOT = build.ROOT
OUT = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


class ResultLine(unittest.TestCase):
    GOOD = '{"correct": true, "attempted": 3, "failed": 0, "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}'

    def test_accepts_the_last_line(self):
        r = run.result_line("log line\n" + self.GOOD + "\n\n")
        self.assertEqual(r["attempted"], 3)

    def test_rejects_a_line_that_is_not_the_result(self):
        self.assertIsNone(run.result_line(self.GOOD + "\ntrailing text"))
        self.assertIsNone(run.result_line(""))

    def test_rejects_extra_keys_and_empty_runs(self):
        self.assertIsNone(run.result_line(self.GOOD.replace('"failed": 0', '"failed": 0, "x": 1')))
        self.assertIsNone(run.result_line(self.GOOD.replace('"attempted": 3', '"attempted": 0')))
        self.assertIsNone(run.result_line(self.GOOD.replace('"unit": "s"', '"unit": "s", "n": 2')))


class ScalaSelfTests(unittest.TestCase):
    def test_self_tests_pass(self):
        classpath = build.build(OUT / "classes")
        work = OUT / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            p = subprocess.run([build.java(), "-Xmx1g", *run.ADD_OPENS,
                                f"-Djava.io.tmpdir={work}", "-cp", os.pathsep.join(classpath),
                                "perfbench.SelfTest", str(work)],
                               cwd=work, capture_output=True, text=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])


class WithoutEngine(unittest.TestCase):
    def test_fails_fast_and_prints_no_result(self):
        with tempfile.TemporaryDirectory(dir=OUT if OUT.exists() else None) as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap", "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
