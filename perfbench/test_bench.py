#!/usr/bin/env python3
"""Tests of the benchmark itself, on a small (sf0.001) corpus.

    python3 perfbench/test_bench.py      # from the root of a checkout

Runs every workload once, traced, at sf0.001 and checks that every metric
is emitted with its unit, that construct + plan + exec cover each query's
wall time with the remainder reported, that the per-module figures sum to
the workload totals, that the spans nest as documented, and that a planted
wrong answer is caught by the oracle check.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.getcwd()
TEST_DIR = os.path.join(ROOT, run.DATA, "test")


class Smoke(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build(ROOT)
        cls.out, cls.raw, cls.answers = {}, {}, {}
        for name, w in WORKLOADS.items():
            cls.out[name] = os.path.join(TEST_DIR, name)
            cls.answers[name] = run.oracle_answers(
                ROOT, cls.cp, "sf0.001", [q for q, _ in w["queries"]])
            cls.raw[name] = run.run_workload(
                ROOT, cls.cp, name, seed=7, seconds=1, trace=True,
                out=cls.out[name], corpus_key="sf0.001")

    def test_no_query_failed(self):
        for name, raw in self.raw.items():
            self.assertEqual(raw["failures"], [], name)
            wrong = run.check_answers(os.path.join(self.out[name], "dump"),
                                      self.answers[name])
            self.assertEqual(wrong, [], name)

    def test_every_metric_emitted_with_its_unit(self):
        bench = json.loads(run.read(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual(
            [(m["name"], m["unit"], m["better"], m["bound"])
             for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(WORKLOADS))
        for name, raw in self.raw.items():
            for trace, listed in ((0, bench["end_to_end"]),
                                  (1, bench["per_layer"])):
                values, defs = run.report(raw, trace, failed=0)
                self.assertEqual(dict(defs),
                                 {m["name"]: m["unit"] for m in listed})
                for n, _ in defs:
                    self.assertIsInstance(values[n], (int, float), n)
            values, _ = run.report(raw, 1, failed=0)
            for n, _ in run.PROFILE_ONLY:
                self.assertIsInstance(values[n], (int, float), n)

    def test_layers_cover_each_query(self):
        for name, raw in self.raw.items():
            self.assertTrue(raw["layers"], name)
            for r in raw["layers"]:
                phases = (r["construct_s"] + r["plan.optimize_s"] +
                          r["plan.physical_s"] + r["exec_s"])
                self.assertAlmostEqual(phases + r["query.remainder_s"],
                                       r["wall_s"], places=9)
                self.assertGreaterEqual(r["query.remainder_s"], 0)
                self.assertLess(r["query.remainder_s"],
                                0.005 + 0.05 * r["wall_s"], r["query"])

    def test_module_sums_equal_totals(self):
        for name, raw in self.raw.items():
            m, _ = run.report(raw, 1, failed=0)
            for k, _ in run.MODULE_METRICS:
                total = sum(m[f"{mod}.{k}"] for mod in run.MODULES)
                self.assertAlmostEqual(total, m[k], places=9, msg=k)
            used = {mod for _, mod in WORKLOADS[name]["queries"]}
            for mod in set(run.MODULES) - used:
                self.assertEqual(m[f"{mod}.exec_s"], 0)

    def test_spans_nest(self):
        for name in self.raw:
            spans = [json.loads(l) for l in run.read(
                os.path.join(self.out[name], "spans.jsonl")).splitlines()]
            by_id = {s["id"]: s for s in spans}
            phases = {"construct", "plan.optimize", "plan.physical", "exec"}
            seen = {s["name"] for s in spans}
            self.assertTrue({"workload", "pass", "query", "job",
                             "stage"} | phases <= seen, seen)
            for s in spans:
                self.assertLessEqual(s["self_ms"], s["dur_ms"] + 1e-6)
                self.assertGreaterEqual(s["self_ms"], -1e-6)
                parent = by_id.get(s["parent"])
                if s["name"] in phases:
                    self.assertEqual(parent["name"], "query")
                if s["name"] == "job":
                    self.assertIn(parent["name"], phases)
                if s["name"] == "stage":
                    self.assertEqual(parent["name"], "job")
                    self.assertTrue(s["label"] and s["label"] != "?")
                if s["name"] in phases | {"job", "stage"}:
                    self.assertEqual(s["query"], parent["query"])

    def test_planted_wrong_answer_is_caught(self):
        name = "recon_sf01"
        q = WORKLOADS[name]["queries"][0][0]
        src = os.path.join(self.out[name], "dump", q)
        planted = os.path.join(TEST_DIR, "planted")
        shutil.rmtree(planted, ignore_errors=True)
        shutil.copytree(src, os.path.join(planted, q))
        files = [os.path.join(planted, q, f)
                 for f in os.listdir(os.path.join(planted, q))
                 if f.endswith(".parquet")]
        tbl = pa.concat_tables([pq.read_table(f) for f in files])
        for f in files:
            os.remove(f)
        col = tbl.column(0).to_pylist()
        col[0] = (col[0] + 1) if isinstance(col[0], (int, float)) \
            else f"{col[0]}x"
        tbl = tbl.set_column(0, tbl.field(0), pa.array(col, tbl.field(0).type))
        pq.write_table(tbl, os.path.join(planted, q, "part-0.parquet"))
        want = {q: self.answers[name][q]}
        dump = os.path.join(self.out[name], "dump")
        self.assertEqual(run.check_answers(dump, want), [])
        self.assertEqual(run.check_answers(planted, want), [q])


class Bare(unittest.TestCase):

    def test_fails_without_the_program(self):
        bare = os.path.join(TEST_DIR, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__", "target"))
        res = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "recon_sf01",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(res.returncode, 0)
        self.assertEqual(res.stdout, "")
        shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main(verbosity=2)
