"""Self-tests of the benchmark's contract: BENCHMARK.json is well formed, a
real run's last stdout line parses as the result object with every metric
and unit, its record holds the same metrics and the provenance stamp, and
the benchmark refuses to run without the program sources.

  python3 -m unittest discover -s perfbench/tests

The run tests start the benchmark for real (about a minute each).
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TEST_DIR = ROOT / ".bench_build" / "perfbench" / "tests"


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=900)


class SpecTest(unittest.TestCase):
    def test_keys_and_limits(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        self.assertTrue(1 <= len(SPEC["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(SPEC["per_layer"]) <= 128)
        names = [w["name"] for w in SPEC["workloads"]] + \
            [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"],
                         max(m["bound"] for m in SPEC["end_to_end"]))
        for p in SPEC["paths"]:
            self.assertTrue((ROOT / p).is_dir())


class OutputTest(unittest.TestCase):
    def check_run(self, trace):
        workload = SPEC["workloads"][0]["name"]
        TEST_DIR.mkdir(parents=True, exist_ok=True)
        rec = TEST_DIR / f"record-{trace}.json"
        p = run("--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--record", str(rec))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = p.stdout.strip().splitlines()[-1]
        self.assertFalse(last.startswith("["), last)
        res = json.loads(last)
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertIs(res["correct"], True, p.stderr[-3000:])
        self.assertIsInstance(res["attempted"], int)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        kind = "per_layer" if trace else "end_to_end"
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        self.assertEqual(set(res["metrics"]), set(want))
        for name, m in res["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], want[name])
            self.assertIsInstance(m["value"], (int, float))
        if not trace:
            for name, m in res["metrics"].items():
                self.assertGreater(m["value"], 0, name)
        record = json.loads(rec.read_text())
        self.assertEqual(record["metrics"], res["metrics"])
        self.assertEqual(record["fail_ratio"], 0)
        for key in ("nproc", "mem_total_kb", "xmx", "spark_version",
                    "java_version", "git_sha", "source_digest", "seed",
                    "inputs"):
            self.assertIn(key, record["provenance"])
        self.assertIn("digest", record["provenance"]["inputs"])
        return record

    def test_untraced_run(self):
        self.check_run(0)

    def test_traced_run_states_overhead(self):
        record = self.check_run(1)
        self.assertIn("trace.overhead_s", record["per_layer"])

    def test_refuses_without_program_sources(self):
        TEST_DIR.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=TEST_DIR) as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("--workload", SPEC["workloads"][0]["name"], "--seed",
                    "1", "--seconds", "1", "--trace", "0", cwd=d)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
