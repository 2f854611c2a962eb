"""Tests for the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests -v

The generator tests run in seconds. The end-to-end tests build graft and
run real benchmark JVMs (a few minutes); set PERFBENCH_FAST=1 to skip them.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {"tag_users": 600, "tag_rules_per_table": 6, "tag_delta_ops": 3,
         "cdc_seed_docs": 120, "cdc_delta_docs": 40, "cdc_deltas": 2, "cdc_eval_docs": 20,
         "serve_docs": 100, "serve_vectors": 150, "serve_batch": 4, "serve_batches": 3}


def load_json(path):
    with open(path) as f:
        return json.load(f)


def tree_digest(d):
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.saved = dict(gen.SIZES)
        gen.SIZES.update(SMALL)
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.WORK)

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.saved)
        shutil.rmtree(self.tmp)

    def digest(self, kind, seed, name):
        d = os.path.join(self.tmp, name)
        gen.GENERATORS[kind](d, seed)
        return tree_digest(d)

    def test_same_seed_gives_identical_bytes(self):
        for kind in gen.GENERATORS:
            with self.subTest(kind=kind):
                self.assertEqual(self.digest(kind, 5, f"{kind}-a"), self.digest(kind, 5, f"{kind}-b"))

    def test_other_seed_gives_other_inputs(self):
        for kind in gen.GENERATORS:
            with self.subTest(kind=kind):
                self.assertNotEqual(self.digest(kind, 5, f"{kind}-a"), self.digest(kind, 6, f"{kind}-b"))

    def test_planted_traffic_properties(self):
        gen.gen_tags(os.path.join(self.tmp, "tags"), 3)
        exp = load_json(os.path.join(self.tmp, "tags", "expected.json"))
        users = gen.SIZES["tag_users"]
        for tag, hits in exp["hits"].items():  # every rule tags a plausible share
            self.assertTrue(gen.HIT_RATE[0] / 2.5 * users <= hits <= gen.HIT_RATE[1] * 2.5 * users,
                            (tag, hits))
        self.assertEqual([o["kind"] for o in exp["ops"]], ["incremental", "subset", "users"])
        gen.gen_cdc(os.path.join(self.tmp, "cdc"), 3)
        dups = load_json(os.path.join(self.tmp, "cdc", "expected.json"))["exact_dups"]
        self.assertEqual(sorted(dups), ["2", "3"])
        self.assertTrue(all(dups.values()), "every delta plants exact cross-batch copies")

    def test_rule_evaluation_uses_sql_null_logic(self):
        import numpy as np
        cols = {"a": (np.array([1, 5, 9]), np.array([False, True, False]))}
        leaf = {"field": "a", "operator": ">", "value": 3}
        t, f = gen.eval_rule(leaf, cols)
        self.assertEqual(t.tolist(), [False, False, True])
        self.assertEqual(f.tolist(), [True, False, False])
        t, _ = gen.eval_rule({"logic": "NOT", "conditions": [leaf]}, cols)
        self.assertEqual(t.tolist(), [True, False, False], "NOT(null) is not a hit")


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_reports(self):
        spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
        for m in spec["end_to_end"]:
            self.assertEqual(run.END_TO_END.get(m["name"]), m["unit"], m["name"])
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_refuses_without_graft_sources(self):
        os.makedirs(run.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".cache", ".work", "target"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tag_full",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


@unittest.skipIf(os.environ.get("PERFBENCH_FAST"), "PERFBENCH_FAST set")
class EndToEndTest(unittest.TestCase):
    def bench(self, *extra, trace=0):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tag_full",
                            "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        return p.returncode, lines, json.loads(lines[-1])

    def test_every_declared_metric_is_reported(self):
        spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            rc, _, out = self.bench(trace=trace)
            self.assertEqual(rc, 0)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(out["correct"])
            self.assertEqual(set(out["metrics"]), {m["name"] for m in spec[key]})
            for m in spec[key]:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])

    def test_failing_op_counts_and_exits_nonzero(self):
        rc, lines, out = self.bench("--fail-op", "0")
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        frac = [float(l.split()[2]) for l in lines if l.startswith("  ops_failed_frac = ")]
        self.assertEqual(frac, [1 / out["attempted"]])
