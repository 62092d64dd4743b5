"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests build the harness on first use (about a minute) and then
run every workload on the sf0.001 tables and a tiny corpus; set
PERFBENCH_SKIP_SMOKE=1 to run only the fast tests.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_corpus  # noqa: E402
import workloads as W  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_tree_other_seed_other_tree(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen_corpus.generate(5, a)
            gen_corpus.generate(5, b)
            gen_corpus.generate(6, c)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_corpus_shape(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen_corpus.generate(9, t)
            sims = m["sims"]
            rows = sorted(s["rows"] for s in sims)
            self.assertGreaterEqual(rows[-1], 5 * rows[len(rows) // 2])  # heavy tail
            self.assertTrue(any(s["artifact"] for s in sims))
            self.assertTrue(any(not s["artifact"] for s in sims))
            late = [s for s in sims if s["meta_batch"] > s["batch"]]
            self.assertAlmostEqual(len(late) / len(sims), 0.10, delta=0.03)
            kinds = sorted(s["invalid"] for s in sims if s["invalid"])
            self.assertEqual(kinds, ["id_mismatch", "missing_column"])
            nums = sorted(s["simulation_num"] for s in sims)
            self.assertEqual(nums, list(range(1, len(sims) + 1)))
            for s in sims:
                day = os.path.join(t, f"batch_{s['batch']:02d}", s["day"])
                self.assertTrue(os.path.isfile(os.path.join(day, f"rxndata_{s['id']}.csv")))


class DefinitionTest(unittest.TestCase):

    def test_benchmark_json_matches_the_benchmark(self):
        b = load_benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME_RE)
        for w in b["workloads"]:
            self.assertIn(w["name"], W.WORKLOADS)
        printed = dict(W.RESULT_LINE_METRICS)
        for m in b["end_to_end"]:
            self.assertEqual(printed[m["name"]], m["unit"])
            self.assertRegex(m["unit"], UNIT_RE)
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual([m["name"] for m in b["end_to_end"]], list(printed))
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], W.RESULT_LINE_LAYERS)


def run_bench(args, cwd=ROOT, timeout=900):
    t0 = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=timeout)
    return r, time.time() - t0


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "PERFBENCH_SKIP_SMOKE set")
class SmokeTest(unittest.TestCase):

    def check_result(self, r, expected_metrics):
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], r.stderr[-3000:])
        self.assertEqual(res["failed"], 0, r.stderr[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         dict(expected_metrics))
        text = "\n".join(lines[:-1])
        for name, unit in W.END_TO_END:  # every end-to-end metric, with its unit
            self.assertRegex(text, rf"\b{re.escape(name)}\s+\S+\s+{re.escape(unit)}\b")
        return res

    def test_every_workload_smoke_traced(self):
        for w in W.WORKLOADS:
            with self.subTest(workload=w):
                r, took = run_bench(["--workload", w, "--seed", "1", "--seconds", "1",
                                     "--trace", "1", "--smoke"])
                res = self.check_result(r, W.RESULT_LINE_LAYERS)
                for name, unit in W.PER_LAYER:  # every layer metric is printed
                    self.assertRegex(r.stdout, rf"\b{re.escape(name)}\s+\S+\s+{re.escape(unit)}\b")
                self.assertLess(took, 240)
                self.check_spans(w, res)

    def test_untraced_smoke_prints_end_to_end(self):
        r, _ = run_bench(["--workload", "relational", "--seed", "2", "--seconds", "1",
                          "--trace", "0", "--smoke"])
        self.check_result(r, W.RESULT_LINE_METRICS)

    def check_spans(self, workload, res):
        """The op's phase spans tile its wall time; the share of it that no
        build, plan or job span covers is reported."""
        with open(os.path.join(BENCH, ".work", "traces", f"{workload}_seed1.json")) as f:
            spans = json.load(f)["spans"]
        ops = [s for s in spans if s["kind"] == "op"]
        self.assertTrue(ops)
        for op in ops:
            phases = sorted((s for s in spans if s["parent"] == op["id"] and s["kind"] == "phase"),
                            key=lambda s: s["start_ms"])
            self.assertTrue(phases, op["name"])
            self.assertLessEqual(abs(phases[0]["start_ms"] - op["start_ms"]), 2)
            self.assertLessEqual(abs(phases[-1]["end_ms"] - op["end_ms"]), 2)
            for x, y in zip(phases, phases[1:]):
                self.assertLessEqual(abs(y["start_ms"] - x["end_ms"]), 2)
        op_ids = {op["id"] for op in ops}
        self.assertTrue(any(s["kind"] == "job" and s["parent"] in op_ids for s in spans))
        share = res["metrics"]["trace.uncovered_share"]["value"]
        self.assertGreaterEqual(share, 0.0)
        self.assertLess(share, 1.0)

    def test_fails_without_the_engine(self):
        """Given only BENCHMARK.json and the benchmark's own files, the
        command exits non-zero without printing a result."""
        with tempfile.TemporaryDirectory() as t:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            shutil.copytree(BENCH, os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            r, took = run_bench(["--workload", "curation", "--seed", "1",
                                 "--seconds", "10", "--trace", "0"], cwd=t, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
            self.assertLess(took, 180)


if __name__ == "__main__":
    unittest.main()
