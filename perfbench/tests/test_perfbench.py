"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end cases run the real benchmark (about one minute per run, five
runs), so they build the engine on first use like any benchmark run.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
GATED = [w["name"] for w in SPEC["workloads"]]
SECONDS = "1"
_runs = {}


def bench(workload, trace, seed=7, env=None):
    """Runs perfbench/run.py once per distinct argument set; returns
    (exit code, last stdout line parsed or None, stdout)."""
    key = (workload, trace, seed, tuple(sorted((env or {}).items())))
    if key not in _runs:
        e = dict(os.environ, **(env or {}))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                            "--seconds", SECONDS, "--trace", str(trace)],
                           cwd=ROOT, env=e, capture_output=True, text=True, timeout=900)
        lines = r.stdout.strip().splitlines()
        try:
            last = json.loads(lines[-1]) if lines else None
        except ValueError:
            last = None
        _runs[key] = (r.returncode, last, r.stdout + r.stderr)
    return _runs[key]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        tmp = tempfile.mkdtemp()
        try:
            for w in gen.GENERATORS:
                a = gen.generate(w, 5, os.path.join(tmp, f"{w}-a"))
                b = gen.generate(w, 5, os.path.join(tmp, f"{w}-b"))
                c = gen.generate(w, 6, os.path.join(tmp, f"{w}-c"))
                self.assertEqual(a["sha256"], b["sha256"], w)
                self.assertNotEqual(a["sha256"], c["sha256"], w)
        finally:
            shutil.rmtree(tmp)


class EndToEndTest(unittest.TestCase):
    def test_printed_metric_names_equal_benchmark_json(self):
        for w in GATED:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                code, out, log = bench(w, trace)
                self.assertEqual(code, 0, log[-3000:])
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"], log[-3000:])
                self.assertEqual(list(out["metrics"]), [m["name"] for m in SPEC[key]], (w, trace))
                for m in SPEC[key]:
                    self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
                if key == "end_to_end":
                    self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()), out)

    def test_injected_wrong_row_counts_as_failed_operation(self):
        code, out, log = bench(GATED[0], 0, env={"PERFBENCH_INJECT_WRONG_ROW": "1"})
        self.assertEqual(code, 0, log[-3000:])
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        # c0 and c1 are the untimed warm-up cycles; the corrupted check is a timed one's
        self.assertRegex(log, r"FAILED operation c[2-9]: output mismatch")

    def test_spans_cover_each_traced_operation(self):
        for w in GATED:
            code, _, log = bench(w, 1)
            self.assertEqual(code, 0, log[-3000:])
            with open(os.path.join(ROOT, ".bench_build", f"spans-{w}.json")) as f:
                rec = json.load(f)
            traced = {o["id"] for o in rec["ops"] if o["traced"]}
            self.assertTrue(traced, w)
            roots = [s for s in rec["spans"] if s["op"] in traced and s["parent"] == -1]
            self.assertEqual(len(roots), len(traced))
            for r in roots:
                kids = [s for s in rec["spans"] if s["parent"] == r["id"]]
                covered = sum(s["wall_s"] for s in kids) if kids else r["wall_s"]
                self.assertGreaterEqual(covered / r["wall_s"], 0.95, (w, r["name"], r["op"]))


class StandaloneTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", GATED[0], "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=tmp, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn("metrics", r.stdout)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
