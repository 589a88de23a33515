"""Self-tests of the benchmark itself (not of graft).

    python3 -m unittest discover -s perfbench/tests -v

Runs a dozen benchmark JVMs at the workloads' own sizes with one second of
timed runs each (about ten minutes on 4 cores).
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# BENCHMARK.json runs the first two; the other two are for investigations
ALL_WORKLOADS = ["row_checks", "quarantine_runner", "compile_wide", "dataset_checks"]


def bench(*args):
    """Runs the benchmark command; returns (exit code, stdout lines)."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def result(lines):
    return json.loads(lines[-1])


def detail(lines):
    return json.loads(next(l for l in lines if l.startswith("PERFBENCH_DETAIL ")).split(" ", 1)[1])


class BenchmarkSpec(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertIn(SPEC["run_seconds"], range(1, 61))
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in SPEC["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertLessEqual({w["name"] for w in SPEC["workloads"]}, set(ALL_WORKLOADS))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


class GeneratorIsSeeded(unittest.TestCase):
    def digest(self, seed):
        classes, jars = build.build()
        tmp = os.path.join(ROOT, ".bench_tmp", f"gen-{os.getpid()}-{seed}")
        os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
        try:
            cmd = run.java_command(classes, jars, tmp, "perfbench.GenDigest",
                                   ["--seed", str(seed), "--rows", "2000", "--tmp", tmp])
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=300, check=True).stdout
            return json.loads(out.splitlines()[-1])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        a, b, c = self.digest(7), self.digest(7), self.digest(8)
        self.assertEqual(a, b)
        for k in ("perf", "snapshot", "wide_rules"):
            self.assertNotEqual(a[k], c[k], k)


class AnswerCheck(unittest.TestCase):
    def test_wrong_threshold_fails_every_run(self):
        code, lines = bench("--workload", "row_checks", "--seed", "3", "--seconds", "1",
                            "--break-threshold")
        self.assertEqual(code, 0)
        r = result(lines)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], r["attempted"])
        self.assertEqual(detail(lines)["failed_frac"], 1.0)


class TraceAgreement(unittest.TestCase):
    def test_bound_is_the_run_s_bound(self):
        with open(os.path.join(BENCH, "src", "perfbench", "Main.scala")) as f:
            bound = float(re.search(r"val TraceAgreementBound = ([0-9.]+)", f.read()).group(1))
        self.assertEqual(bound, next(m["bound"] for m in SPEC["end_to_end"] if m["name"] == "run_s"))

    def test_replay_that_disagrees_with_the_runner_fails(self):
        code, lines = bench("--workload", "quarantine_runner", "--seed", "3", "--seconds", "1",
                            "--trace", "1", "--break-replay")
        self.assertEqual(code, 0)
        r, d = result(lines), detail(lines)
        self.assertFalse(r["correct"])
        self.assertFalse(d["trace_agreement"]["holds"])
        # every traced run fails, the untraced runs and the per-rule pass do not
        traced_runs = (r["attempted"] - 1) // 2
        self.assertGreaterEqual(traced_runs, 2)
        self.assertEqual(r["failed"], traced_runs, d["failures"])


class EmittedMetrics(unittest.TestCase):
    """Every workload emits exactly the declared metrics, and traced spans nest."""

    def check(self, workload):
        code, lines = bench("--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0")
        self.assertEqual(code, 0)
        r = result(lines)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], detail(lines)["failures"])
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()},
                         {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
        for m in r["metrics"].values():
            self.assertGreater(m["value"], 0)

        spans_file = os.path.join(ROOT, ".bench_tmp", f"spans-{workload}-{os.getpid()}.json")
        try:
            code, lines = bench("--workload", workload, "--seed", "5", "--seconds", "1",
                                "--trace", "1", "--spans", spans_file)
            self.assertEqual(code, 0)
            r = result(lines)
            self.assertTrue(r["correct"], detail(lines)["failures"])
            self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()},
                             {m["name"]: m["unit"] for m in SPEC["per_layer"]})
            with open(spans_file) as f:
                spans = json.load(f)
        finally:
            if os.path.exists(spans_file):
                os.remove(spans_file)
        self.assertTrue(spans)
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            self.assertGreaterEqual(s["self_s"], 0.0, s)
            p = by_id.get(s["parent"])
            if p is not None:
                self.assertGreaterEqual(s["start_ns"], p["start_ns"], s)
                self.assertLessEqual(s["end_ns"], p["end_ns"], s)
                self.assertEqual(s["run"], p["run"])
        self.assertEqual(detail(lines)["span_summary"]["nesting_violations"], 0)
        self.assertTrue(detail(lines)["trace_agreement"]["holds"])

    def test_workloads(self):
        for w in ALL_WORKLOADS:
            with self.subTest(workload=w):
                self.check(w)


class EmptyCheckout(unittest.TestCase):
    def test_fails_without_graft_sources(self):
        d = os.path.join(ROOT, ".bench_tmp", f"empty-{os.getpid()}")
        try:
            os.makedirs(d)
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
