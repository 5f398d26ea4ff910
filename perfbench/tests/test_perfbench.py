"""Self-tests of the benchmark's policy. No JVM is started.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import re
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import compare  # noqa: E402
import metrics  # noqa: E402
from metrics import BenchError  # noqa: E402

CFG = json.loads((HERE / "workloads.json").read_text())
DIGESTS = json.loads((HERE / "digests.json").read_text())
SPEC_PATH = HERE.parent / "BENCHMARK.json"


class SeededOrder(unittest.TestCase):
    QS = CFG["workloads"]["verbs"]["queries"]

    def test_same_seed_same_orders(self):
        self.assertEqual(metrics.pass_orders("verbs", 7, self.QS, 5),
                         metrics.pass_orders("verbs", 7, self.QS, 5))

    def test_each_pass_is_a_permutation(self):
        for order in metrics.pass_orders("verbs", 3, self.QS, 20):
            self.assertEqual(sorted(order), sorted(self.QS))

    def test_seed_and_workload_change_the_order(self):
        base = metrics.pass_orders("verbs", 1, self.QS, 3)
        self.assertNotEqual(base, metrics.pass_orders("verbs", 2, self.QS, 3))
        self.assertNotEqual(base, metrics.pass_orders("pipeline", 1, self.QS, 3))


class Membership(unittest.TestCase):
    def test_every_recorded_query_has_one_workload(self):
        fam = metrics.membership(DIGESTS["queries"], CFG["families"])
        self.assertEqual(set(fam), set(DIGESTS["queries"]))
        self.assertEqual(set(fam.values()), set(CFG["workloads"]))

    def test_streaming_gates_are_not_batch_verbs(self):
        fam = metrics.membership(DIGESTS["queries"], CFG["families"])
        for q in ("ev12_trending_stream", "ev13_drift_stream", "ev14_hopping_stream",
                  "ev15_session_window_stream"):
            self.assertEqual(fam[q], "pipeline")

    def test_a_query_with_no_workload_fails(self):
        with self.assertRaises(BenchError) as e:
            metrics.membership(["q01_filter", "zz1_new"], CFG["families"])
        self.assertIn("zz1_new", str(e.exception))

    def test_timed_sets_are_declared_and_in_their_workload(self):
        metrics.check_workloads(CFG, list(DIGESTS["queries"]))
        bad = json.loads(json.dumps(CFG))
        bad["workloads"]["verbs"]["queries"].append("dd1_exact")
        with self.assertRaises(BenchError):
            metrics.check_workloads(bad, list(DIGESTS["queries"]))


class DigestCheck(unittest.TestCase):
    REF = {"schema": "struct<a:bigint>", "rows": 3, "hash": "00ff"}

    def ex(self, **kw):
        e = {"query": "q01_filter", "error": None, "schema": "struct<a:bigint>",
             "rows": 3, "hash": "00ff"}
        e.update(kw)
        return e

    def test_match(self):
        self.assertIsNone(metrics.check_output(self.ex(), self.REF, {}))

    def test_each_field_is_checked(self):
        for kw in ({"hash": "0100"}, {"rows": 4}, {"schema": "struct<a:int>"}):
            self.assertIsNotNone(metrics.check_output(self.ex(**kw), self.REF, {}))

    def test_varying_queries_skip_only_the_hash(self):
        varying = {"q01_filter": "why"}
        self.assertIsNone(metrics.check_output(self.ex(hash="0100"), self.REF, varying))
        self.assertIsNotNone(metrics.check_output(self.ex(rows=4), self.REF, varying))

    def test_errors_and_missing_references_fail(self):
        self.assertIsNotNone(metrics.check_output(self.ex(error="boom"), self.REF, {}))
        self.assertIsNotNone(metrics.check_output(self.ex(), None, {}))

    def test_recorded_digests_are_well_formed(self):
        for q, d in DIGESTS["queries"].items():
            self.assertRegex(d["hash"], r"^[0-9a-f]{32}$", q)
            self.assertGreaterEqual(d["rows"], 0, q)
        self.assertLessEqual(set(DIGESTS["varying"]), set(DIGESTS["queries"]))


def synthetic_raw(traced):
    execs, passes = [], []
    for p in range(5):
        is_traced = traced and p % 2 == 1
        passes.append({"pass": p, "settle": False, "traced": is_traced,
                       "wall_s": 2.0 + 0.1 * p})
        for i, q in enumerate(["q01_filter", "dd2_minhash_lsh", "ev5_tumbling_stream"] * 4):
            e = {"pass": p, "query": q, "build_s": 0.01, "wall_s": 0.1 + 0.01 * i,
                 "error": None, "schema": "s", "rows": 1, "hash": "h"}
            if is_traced:
                e["trace"] = {"tasks": 4, "cpu_ns": 1e8, "job_ms": 50.0, "task_ms": 120.0,
                              "scan_bytes": 1000.0, "shuffle_write_bytes": 500.0,
                              "batches": 2, "batch_ms": 40.0, "input_rows": 100.0,
                              "stage_skews": [1.5, 2.5], "batch_ms_list": [15.0, 25.0]}
            execs.append(e)
    return {"passes": passes, "executions": execs, "cores": 4, "peak_rss_kib": 512000,
            "setup": {"start_s": 3.0, "warmup_s": 0.5},
            "kernels": {k: 10.0 for k in metrics.KERNELS}}


class SettlePasses(unittest.TestCase):
    def test_settle_and_traced_passes_are_not_measured(self):
        raw = synthetic_raw(False)
        raw["passes"][1]["settle"] = True
        for e in raw["executions"]:
            if e["pass"] == 1:
                e["wall_s"] = 100.0
        self.assertEqual(metrics.measured(raw, False), [2, 3, 4])
        self.assertLess(metrics.end_to_end(raw)["warm_pass_s"], 1.0)


class MetricNamesAndUnits(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_every_metric_has_a_valid_name_and_unit(self):
        for table in (metrics.END_TO_END, metrics.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, self.NAME)
                self.assertRegex(unit, self.UNIT)
        self.assertLessEqual(len(metrics.PER_LAYER), 128)

    def test_tables_match_the_benchmark_declaration(self):
        spec = json.loads(SPEC_PATH.read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(CFG["workloads"]))

    def test_printed_lines_carry_every_metric_with_its_unit(self):
        for traced, table, fn in ((False, metrics.END_TO_END, metrics.end_to_end),
                                  (True, metrics.PER_LAYER,
                                   lambda r: metrics.per_layer(r, CFG["layer_families"]))):
            line = metrics.result_line(True, 60, 0, fn(synthetic_raw(traced)), table)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(line["metrics"]), set(table))
            for name, m in line["metrics"].items():
                self.assertEqual(m["unit"], table[name])
                self.assertIsInstance(m["value"], (int, float), name)
            json.dumps(line)

    def test_end_to_end_reduction(self):
        m = metrics.end_to_end(synthetic_raw(False))
        self.assertAlmostEqual(m["setup_s"], 3.5)
        # per-query medians over passes 1-4: 0.145, 0.155, 0.165
        self.assertAlmostEqual(m["warm_pass_s"], 0.465)
        self.assertAlmostEqual(m["query_geomean_s"], (0.145 * 0.155 * 0.165) ** (1 / 3))
        self.assertAlmostEqual(m["peak_rss_mb"], 524.288)


class CompareVerdicts(unittest.TestCase):
    def test_verdicts(self):
        old = {s: 10.0 + 0.1 * s for s in range(10)}
        self.assertEqual(compare.verdict(old, {s: v * 0.7 for s, v in old.items()},
                                         "lower", 0.1)["verdict"], "better")
        self.assertEqual(compare.verdict(old, {s: v * 1.3 for s, v in old.items()},
                                         "lower", 0.1)["verdict"], "worse")
        self.assertEqual(compare.verdict(old, dict(old), "lower", 0.1)["verdict"],
                         "within-bound")
        noisy = {s: 10.0 * (1 + (s % 2)) for s in range(10)}
        self.assertEqual(compare.verdict(noisy, dict(noisy), "lower", 0.1)["verdict"],
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
