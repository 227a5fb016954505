"""Tests of the benchmark harness.

    python3 -m unittest discover -s graftbench/tests

The end-to-end case builds the engine and runs a short traced dag_depth
run; it is skipped unless GRAFTBENCH_E2E=1.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402


def op(pass_, id_, wall, layer="core", build=0.0, result=0.0, action=None, **extra):
    return {"pass": pass_, "id": id_, "layer": layer, "wall_s": wall, "build_s": build,
            "result_s": result, "action_s": wall - build - result if action is None else action,
            "error": None, "wrong": None, **extra}


def raw(ops, cores=4):
    return {"ops": ops, "cores": cores, "unmeasured_passes": 2, "jvm_start_s": 0.5,
            "setup_s": 2.0, "heap_peak_mb": 100.0, "oracle": []}


class MetricsTest(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(metrics.quartiles(xs), (q[0], q[2]))
        self.assertEqual(metrics.quartiles([2.0]), (2.0, 2.0))

    def test_end_to_end_separates_cold_warmup_and_warm_passes(self):
        ops = [op(1, "a", 4.0), op(1, "b", 6.0),
               op(2, "a", 3.0), op(2, "b", 9.0),  # warm-up: not measured
               op(3, "a", 1.0), op(3, "b", 4.0),
               op(4, "a", 1.0), op(4, "b", 16.0),
               op(5, "a", 1.0), op(5, "b", 4.0)]
        v, detail = metrics.end_to_end(raw(ops))
        self.assertEqual(v["cold_pass_s"], 10.0)
        self.assertEqual(v["pass_s"], 5.0)  # warm pass sums 5, 17, 5
        self.assertAlmostEqual(v["op_geomean_s"], 2.0)  # sqrt(1 * 4)
        self.assertEqual(v["setup_s"], 2.5)  # JVM start + set-up
        self.assertEqual(detail["warm_passes"], 3)
        self.assertEqual(set(v), {n for n, _ in metrics.END_TO_END})

    def test_a_wrong_output_fails_every_execution_of_its_op(self):
        ops = [op(1, "a", 1.0), op(1, "b", 1.0), op(2, "a", 1.0), op(2, "b", 1.0),
               op(3, "a", 1.0), op(3, "b", 1.0)]  # every pass counts, warm-up too
        ops[0]["wrong"] = "key 1: got 2, expected 3"
        ops[5]["error"] = "boom"
        self.assertEqual(metrics.failures(raw(ops), {}), (6, 4))
        self.assertEqual(metrics.failures(raw(ops[1:5]), {"b": "values differ"}), (4, 2))

    def test_per_layer_reports_every_declared_metric(self):
        ops = [op(p, "ladder_k3", 2.0, build=0.5, result=0.5, plan_nodes=30.0, plan_joins=7.0,
                  jobs_build=1.0, jobs_action=2.0, task_run_s=4.0, codegen_compiles=5.0)
               for p in (1, 2, 3, 4)]
        ops += [op(p, "q21_suppliers_kept_waiting", 1.0, layer="query", build=0.25,
                   plan_nodes=40.0, plan_joins=5.0) for p in (1, 2, 3, 4)]
        v = metrics.per_layer(raw(ops))
        self.assertEqual(set(v), {n for n, _ in metrics.PER_LAYER})
        # plans of ops that never call TaskGraph are not billed to core
        self.assertEqual(v["core.plan_nodes"], 30.0)
        self.assertEqual(v["core.plan_joins"], 7.0)
        self.assertEqual(v["exec.jobs"], 3.0)
        self.assertEqual(v["exec.busy_frac"], 4.0 / (3.0 * 4))
        self.assertEqual(v["q.q21_suppliers_kept_waiting.build_s"], 0.25)
        self.assertEqual(v["codegen.compiles"], 5.0)  # cold pass only
        self.assertAlmostEqual(v["trace.reconciled_frac"], 1.0)
        self.assertEqual(metrics.ladder_table(raw(ops))[0]["plan_joins"], 7.0)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metrics_and_workloads_match_the_harness(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         list(metrics.PER_LAYER))
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), metrics.WORKLOADS)

    def test_bounds(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class OracleTest(unittest.TestCase):
    def test_compare(self):
        try:
            import pandas as pd
            import oracle
        except ImportError as e:
            self.skipTest(f"oracle replay unavailable: {e}")
        a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
        self.assertIsNone(oracle.compare(a, a[["y", "x"]].iloc[::-1]))
        self.assertIn("columns", oracle.compare(a, a[["x"]]))
        self.assertIn("rows", oracle.compare(a, a.iloc[:1]))
        self.assertIn("differ", oracle.compare(a, a.assign(x=[1, 3])))


class CliTest(unittest.TestCase):
    def run_bench(self, cwd, *args):
        return subprocess.run([sys.executable, os.path.join("graftbench", "run.py"), *args],
                              cwd=cwd, capture_output=True, text=True, timeout=170)

    def test_bad_arguments_exit_nonzero(self):
        for extra in (["--workload", "nope"], ["--workload", "dag_depth", "--tables", ROOT]):
            p = self.run_bench(ROOT, *extra, "--seed", "1", "--seconds", "1", "--trace", "0")
            self.assertNotEqual(p.returncode, 0, extra)
            self.assertEqual(p.stdout, "", extra)

    def test_without_the_engine_sources_it_fails_without_a_result(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH, os.path.join(bare, "graftbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = self.run_bench(bare, "--workload", "dag_depth", "--seed", "1",
                               "--seconds", "1", "--trace", "0")
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")

    @unittest.skipUnless(os.environ.get("GRAFTBENCH_E2E") == "1", "set GRAFTBENCH_E2E=1")
    def test_traced_run_end_to_end(self):
        p = self.run_bench(ROOT, "--workload", "dag_depth", "--seed", "7", "--seconds", "1",
                           "--trace", "1")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(list(out["metrics"]), [n for n, _ in metrics.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
