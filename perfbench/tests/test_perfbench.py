"""Self-tests of the benchmark harness (no JVM needed).

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_no_p90_below_sample_floor(self):
        self.assertIsNone(metrics.percentile([1.0] * 99, 90))

    def test_nearest_rank(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(metrics.percentile(xs, 90), 90.0)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 50), 50.0)

    def test_typical_pass_ignores_one_slow_outlier(self):
        ops = [{"name": n, "seconds": t} for n, t in
               [("a", 1.0), ("b", 2.0), ("a", 1.0), ("b", 9.0), ("a", 1.2), ("b", 2.0)]]
        self.assertAlmostEqual(metrics.typical_pass(ops), 3.0)
        self.assertAlmostEqual(metrics.median_op(ops), 1.5)


class NameGrammarTest(unittest.TestCase):
    def test_declared_names_and_units(self):
        for spec in (metrics.END_TO_END, metrics.PER_LAYER, metrics.REPORTED):
            for name, (unit, better) in spec.items():
                self.assertRegex(name, metrics.NAME_RE)
                self.assertRegex(unit, metrics.UNIT_RE)
                self.assertIn(better, ("higher", "lower"))

    def test_catalog_names_fit(self):
        longest = "query.q_dedup_minhash_lsh_s"
        self.assertRegex(longest, metrics.NAME_RE)
        self.assertNotRegex("_starts_badly", metrics.NAME_RE)
        self.assertNotRegex("x" * 65, metrics.NAME_RE)

    def test_benchmark_json_matches_declarations(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        e2e = {m["name"]: m for m in b["end_to_end"]}
        self.assertEqual(set(e2e), set(metrics.END_TO_END))
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["bound"],
                         max(m["bound"] for m in b["end_to_end"]))
        for m in b["end_to_end"]:
            self.assertEqual((m["unit"], m["better"]), metrics.END_TO_END[m["name"]])
            self.assertLessEqual(m["bound"], 0.25)
        layer = {m["name"]: m for m in b["per_layer"]}
        self.assertEqual(set(layer), set(metrics.PER_LAYER))
        for m in b["per_layer"]:
            self.assertEqual((m["unit"], m["better"]), metrics.PER_LAYER[m["name"]])
        names = [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(set(names) <= set(run.WORKLOADS))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a = gen.generate(os.path.join(t, "a"), 5, 3000)
            b = gen.generate(os.path.join(t, "b"), 5, 3000)
            c = gen.generate(os.path.join(t, "c"), 6, 3000)
            self.assertEqual(a["files"], b["files"])
            for name in gen.FILES:
                self.assertNotEqual(a["files"][name]["sha256"],
                                    c["files"][name]["sha256"])

    def test_planted_edge_cases(self):
        with tempfile.TemporaryDirectory() as t:
            man = gen.generate(t, 9, 4000)
            with open(os.path.join(t, "review.json")) as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), 4000)
            self.assertEqual(len(lines) - len(set(lines)), man["duplicate_reviews"])
            years = {json.loads(x)["date"][:4] for x in lines}
            self.assertGreaterEqual(len(years), 15)
            with open(os.path.join(t, "business.json")) as f:
                biz = [json.loads(x) for x in f]
            cats = [b["categories"] for b in biz]
            self.assertIn(None, cats)
            self.assertIn("Quantum Widgets", cats)
            self.assertIn("Unknown", {b["state"] for b in biz})
            self.assertTrue(any(isinstance(b["hours"], dict) for b in biz))
            self.assertTrue(any(isinstance(b["attributes"], dict) for b in biz))


class CorrectnessAccountingTest(unittest.TestCase):
    OPS = [{"pass": 0, "index": i, "name": f"q{i}", "seconds": 1.0,
            "error": None, "result": None} for i in range(4)]

    def test_clean_run(self):
        errors, attempted, failed, correct = run.tally(self.OPS, {}, {})
        self.assertEqual((attempted, failed, correct), (4, 0, True))

    def test_failing_and_wrong_ops_raise_error_rate(self):
        ops = [dict(o) for o in self.OPS]
        ops[1]["error"] = "AnalysisException: boom"
        wrong = {run.op_id(ops[2]): "rows 3 vs 4"}
        _, attempted, failed, correct = run.tally(ops, wrong, {})
        self.assertEqual((attempted, failed, correct), (4, 2, False))

    def test_setup_check_failure_makes_run_incorrect(self):
        _, _, failed, correct = run.tally(self.OPS, {"cache.fill": "x"}, {})
        self.assertEqual((failed, correct), (0, False))

    def test_wrong_dashboard_answer_is_caught(self):
        want = {"columns": ["state", "n"], "rows": [["CA", 3], ["TX", 2]]}
        self.assertTrue(oracle.same_result(
            {"columns": ["n", "state"], "rows": [[2, "TX"], [3, "CA"]]}, want)[0])
        self.assertFalse(oracle.same_result(
            {"columns": ["state", "n"], "rows": [["CA", 3], ["TX", 1]]}, want)[0])
        # an integral float where the oracle has an int is a dtype mismatch
        self.assertFalse(oracle.same_result(
            {"columns": ["state", "n"], "rows": [["CA", 3.0], ["TX", 2.0]]}, want)[0])

    def test_rounding_tolerance_is_one_quantum(self):
        want = {"columns": ["avg_rating"], "rows": [[3.1234]]}
        self.assertTrue(oracle.same_result(
            {"columns": ["avg_rating"], "rows": [[3.1235]]}, want)[0])
        self.assertFalse(oracle.same_result(
            {"columns": ["avg_rating"], "rows": [[3.1237]]}, want)[0])

    def test_master_check_detects_a_lost_row(self):
        with tempfile.TemporaryDirectory() as t:
            data = os.path.join(t, "data")
            gen.generate(data, 3, 2000)
            con = oracle.connect(data)
            exp = oracle.master_fingerprint(con)
            cols = ", ".join(f"CAST({c} AS {ty}) AS {c}" for c, ty in oracle.MASTER_TYPES)
            good, bad = os.path.join(t, "good"), os.path.join(t, "bad")
            con.execute(f"COPY (SELECT {cols} FROM master) TO '{good}' "
                        f"(FORMAT parquet, PARTITION_BY (year))")
            con.execute(f"COPY (SELECT {cols} FROM master LIMIT {exp['rows'] - 1}) "
                        f"TO '{bad}' (FORMAT parquet, PARTITION_BY (year))")
            self.assertTrue(oracle.check_master_output(good, exp)[0])
            self.assertFalse(oracle.check_master_output(bad, exp)[0])


class OutputTest(unittest.TestCase):
    def test_result_line_parses_with_exact_keys(self):
        vals = {n: 1.5 for n in metrics.END_TO_END}
        line = metrics.result_line(True, 10, 0, vals, trace=False)
        obj = json.loads(line)
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(obj["metrics"]), set(metrics.END_TO_END))
        for m in obj["metrics"].values():
            self.assertEqual(set(m), {"value", "unit"})

    def test_traced_line_carries_layers_only(self):
        vals = {n: 2.0 for n in list(metrics.PER_LAYER) + list(metrics.END_TO_END)}
        vals["query.q_pagerank_s"] = 0.5
        obj = json.loads(metrics.result_line(True, 1, 0, vals, trace=True))
        self.assertEqual(set(obj["metrics"]),
                         set(metrics.PER_LAYER) | {"query.q_pagerank_s"})

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.result_line(True, 1, 0, {"setup_s": 1.0}, trace=False)


if __name__ == "__main__":
    unittest.main()
