"""Tests of the benchmark's own reporting: bad metric names, wrong outputs and
failed ops are reported and counted without crashing the run.

Run from the repo root: python3 -m unittest discover -s omopbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import shutil
import tempfile
import unittest
from pathlib import Path

import report
import run

HERE = Path(__file__).resolve().parent

COUNTS = {"PERSON": 9, "VISIT_OCCURRENCE": 11, "CONDITION_OCCURRENCE": 22, "LOCATION": 31}


def op(kind, wall, traced=False, **extra):
    o = {"kind": kind, "traced": traced, "ok": True, "output_ok": True, "wall_s": wall,
         "rows_out": float(sum(COUNTS.values())), "counts": COUNTS, "golden_mismatches": []}
    if traced:
        o.update({"span_wall_s": wall, "rules.parse_s": 0.01, "sources.register_s": 0.5,
                  "engine.spine_s": 3.0, "engine.plan_s": 0.3, "engine.write_s": 3.0,
                  "spark.jobs": 104.0, "codegen.compiles": 300.0, "engine.statements": 27.0})
    o.update(extra)
    return o


def raw(ops, **extra):
    r = {"jvm_start_s": 0.4, "calibration_before_s": 0.57, "calibration_after_s": 0.58,
         "factor": 1, "cpus": 4, "live_heap_mb": 300.0,
         "setups": [{"session_s": 4.0, "total_s": 12.0}, {"session_s": 0.1, "total_s": 3.0},
                    {"session_s": 0.1, "total_s": 3.2}],
         "checks": {"expected_counts": COUNTS, "golden_values": True},
         "ops": ops}
    r.update(extra)
    return r


class AssembleTest(unittest.TestCase):

    def test_clean_run_reports_every_end_to_end_metric(self):
        res, detail = report.assemble(raw([op("cold", 11.0), op("warm", 7.5)]), trace=False)
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (2, 0))
        self.assertEqual(set(res["metrics"]), set(report.END_TO_END))
        self.assertAlmostEqual(res["metrics"]["setup_s"]["value"], 0.4 + 3.2)
        self.assertEqual(res["metrics"]["op_p50_s"], {"value": 7.5, "unit": "s"})
        self.assertEqual(detail["problems"], [])

    def test_bad_metric_name_is_reported_and_dropped(self):
        ops = [op("cold", 11.0, traced=True), op("warm", 7.5, traced=True, **{"bad name!": 1.0}),
               op("warm", 7.4)]
        res, detail = report.assemble(raw(ops), trace=True)
        self.assertNotIn("bad name!", res["metrics"])
        self.assertTrue(any("'bad name!'" in p for p in detail["problems"]))
        self.assertTrue(res["correct"])  # a harness naming slip is not a wrong output
        for n in res["metrics"]:
            self.assertRegex(n, report.NAME_RE)

    def test_wrong_output_counts_as_failed_op(self):
        ops = [op("cold", 11.0), op("warm", 7.5, output_ok=False, counts={**COUNTS, "PERSON": 8})]
        res, detail = report.assemble(raw(ops), trace=False)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (2, 1))
        self.assertTrue(any("wrong output" in p and "'PERSON': 8" in p for p in detail["problems"]))
        self.assertNotIn("op_p50_s", res["metrics"])  # a wrong op has no latency
        self.assertIn("cold_s", res["metrics"])

    def test_golden_mismatch_counts_as_failed_op(self):
        ops = [op("cold", 11.0, output_ok=False, golden_mismatches=["person.year_of_birth"]),
               op("warm", 7.5)]
        res, detail = report.assemble(raw(ops), trace=False)
        self.assertEqual(res["failed"], 1)
        self.assertFalse(res["correct"])
        self.assertTrue(any("person.year_of_birth" in p for p in detail["problems"]))
        self.assertNotIn("cold_s", res["metrics"])

    def test_failed_op_is_counted_and_the_rest_still_measured(self):
        ops = [op("cold", 11.0), op("warm", 0.2, ok=False, output_ok=None, error="boom"),
               op("warm", 7.6)]
        res, detail = report.assemble(raw(ops), trace=False)
        self.assertEqual((res["attempted"], res["failed"]), (3, 1))
        self.assertEqual(res["metrics"]["op_p50_s"]["value"], 7.6)
        self.assertTrue(any("boom" in p for p in detail["problems"]))

    def test_traced_split_adds_up_to_the_op(self):
        ops = [op("cold", 11.0, traced=True), op("warm", 7.0, traced=True), op("warm", 6.9)]
        res, _ = report.assemble(raw(ops), trace=True)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        spans = sum(m[f"{s}_s"] for s in report.SPANS)
        self.assertAlmostEqual(spans + m["unattributed_s"], 7.0)
        shares = sum(m[f"{s}_share"] for s in report.SPANS)
        self.assertAlmostEqual(shares + m["unattributed_share"], 1.0)
        self.assertAlmostEqual(m["trace.overhead"], 7.0 / 6.9 - 1)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(report.tail([1.0] * 10))
        p, v, n = report.tail([float(i) for i in range(20)])
        self.assertEqual((v, n), (9.0, 20))
        self.assertEqual(p, 50.0)


class ContractTest(unittest.TestCase):

    def test_benchmark_json_lists_the_reported_metrics(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, report.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))

    def test_fails_without_printing_outside_a_checkout(self):
        d = tempfile.mkdtemp()
        cwd = os.getcwd()
        out, err = io.StringIO(), io.StringIO()
        try:
            os.chdir(d)
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                code = run.main(["--workload", "etl_omop_small", "--seed", "1",
                                 "--seconds", "1", "--trace", "0"])
        finally:
            os.chdir(cwd)
            shutil.rmtree(d)
        self.assertNotEqual(code, 0)
        self.assertEqual(out.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
