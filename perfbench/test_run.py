"""Small-size runs of every workload through the benchmark command.

    python3 -m unittest perfbench/test_run.py     (from the repository root)

Each run must exit 0 and end with the result line carrying every metric
that BENCHMARK.json names for its mode (end-to-end with --trace 0,
per-layer with --trace 1), each with its declared unit.
"""
import json
import pathlib
import subprocess
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMALL = {"crawl_mix": 600, "heavy_tail": 12, "curate_funnel": 300}


def run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--pages", str(SMALL[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    return proc, proc.stdout.strip().splitlines()


class SmallRuns(unittest.TestCase):
    def check(self, workload, trace):
        proc, lines = run(workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stdout[-3000:] + proc.stderr[-3000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertIn(f"{m['name']} = ", proc.stdout, m["name"])

    def test_every_workload_prints_every_metric(self):
        for w in SMALL:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)

    def test_fails_without_program_sources(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        command must fail fast without printing a result."""
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=ROOT / "perfbench" / ".work") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", pathlib.Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns(".work", "target"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "crawl_mix", "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"metrics"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
