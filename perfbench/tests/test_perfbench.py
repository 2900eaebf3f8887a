"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a source checkout. The JVM tests build the engine and
the harness on first use (as perfbench/run.py does) and read the sf0.001
tables under perfbench/data/.
"""
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


class StatisticsTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(run.percentile(xs, 0), 1.0)
        self.assertEqual(run.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(run.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(run.percentile(xs, 90), 3.7)
        self.assertEqual(run.percentile([7.0], 90), 7.0)

    def test_percentile_matches_median(self):
        xs = [0.3, 1.7, 0.2, 9.0, 4.4, 0.9, 2.2]
        self.assertAlmostEqual(run.percentile(xs, 50), statistics.median(xs))

    def test_percentile_of_nothing_fails(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_query_latency_is_the_median_over_passes(self):
        samples = [{"query": q, "s": s} for q, s in
                   [("a", 1.0), ("b", 5.0), ("a", 3.0), ("b", 4.0), ("a", 2.0), ("c", 0.5)]]
        self.assertEqual(sorted(run.query_latencies(samples)), [0.5, 2.0, 4.5])

    def test_quartile_spread(self):
        xs = [float(x) for x in range(1, 11)]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(run.quartile_spread(xs), (q3 - q1) / med)
        self.assertAlmostEqual(run.quartile_spread([2.0] * 10), 0.0)


def harness(*args):
    """Runs the JVM harness directly; returns (raw result, stderr)."""
    classpath = run.build()
    work = tempfile.mkdtemp(dir=run.BUILD)
    try:
        if "--data" not in args:
            args = args + ("--data", os.path.join(run.HERE, "data", "sf0.001"))
        raw = run.run_jvm(classpath, list(args) + [
            "--work", os.path.join(work, "work"), "--cores", "2"], work, 600)
        err = run.read(os.path.join(work, "jvm.err"))
        return raw, err
    finally:
        shutil.rmtree(work, ignore_errors=True)


def plan(workload, seed):
    classpath = run.build()
    out = subprocess.run(
        ["java", "-cp", classpath, "graft.perfbench.Main", "--mode", "list",
         "--workload", workload, "--seed", str(seed)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return [tuple(line.split("\t")) for line in out.splitlines()]


class HarnessTest(unittest.TestCase):
    QUERIES = "typical_day,q_kcore,q_edit_join,q_csv_export"

    def test_query_order_is_a_function_of_the_seed(self):
        for workload in ("lakehouse_etl", "graph_iterative"):
            a, b = plan(workload, 7), plan(workload, 7)
            self.assertEqual(a, b)
            orders = {tuple(plan(workload, seed)) for seed in range(1, 6)}
            self.assertGreater(len(orders), 1)
            self.assertEqual({frozenset(o) for o in orders}, {frozenset(a)})

    def test_workloads_register_their_modules(self):
        self.assertEqual({m for _, m in plan("graph_iterative", 1)}, {"GraphOps"})
        etl = dict(plan("lakehouse_etl", 1))
        self.assertEqual(etl["q_partition_replace"], "Medallion")
        self.assertEqual(etl["q_gravity_model"], "GravityOps")
        self.assertEqual(etl["typical_day"], "SparkEntry")

    def test_fingerprints_are_stable_across_runs(self):
        with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
            prints = []
            for i in range(2):
                golden = os.path.join(d, f"golden{i}.tsv")
                raw, _ = harness("--mode", "record", "--queries", self.QUERIES,
                                 "--seconds", "0", "--golden", golden)
                self.assertEqual(raw["failures"], [])
                prints.append(run.read(golden))
            self.assertEqual(prints[0], prints[1])
            self.assertEqual(len(prints[0].splitlines()), 1 + 4)

    def test_failures_are_counted_with_their_reason(self):
        with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
            golden = os.path.join(d, "golden.tsv")
            harness("--mode", "record", "--queries", "typical_day,q_kcore",
                    "--seconds", "0", "--golden", golden)
            lines = run.read(golden).splitlines()
            corrupted = [l if not l.startswith("q_kcore\t") else "q_kcore\t0:0:0" for l in lines]
            with open(golden, "w") as f:
                f.write("\n".join(corrupted) + "\n")
            raw, err = harness("--mode", "run", "--queries", "typical_day,q_kcore",
                               "--inject-failure", "1", "--seconds", "0",
                               "--golden", golden)
        reasons = {(f["query"], f["pass"]): f["reason"] for f in raw["failures"]}
        self.assertEqual(reasons[("bench_injected_failure", 0)],
                         "java.lang.IllegalStateException: injected failure")
        for timed_pass in (1, 2):
            self.assertEqual(reasons[("bench_injected_failure", timed_pass)],
                             "java.lang.IllegalStateException: injected failure")
        self.assertTrue(reasons[("q_kcore", 0)].startswith("fingerprint mismatch"))
        self.assertNotIn(("typical_day", 0), reasons)
        # Warm-up plus the two timed passes every untraced run makes.
        self.assertEqual(len(raw["failures"]), 4)
        self.assertEqual(raw["attempted"], 9)
        self.assertIn("FAILED bench_injected_failure (pass 0)", err)


if __name__ == "__main__":
    unittest.main()
