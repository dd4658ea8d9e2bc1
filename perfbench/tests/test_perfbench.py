"""The benchmark's own tests, on the tiny corpus (TPC-H tables at sf0.001).

    python3 -m unittest discover -s perfbench/tests -v     # from the repo root

Each case launches perfbench/run.py the way the benchmark is driven; the
whole module takes a few minutes (one JVM per run).
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import layers  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, seed, trace=0, expected=None):
    """Run the benchmark; return (final JSON line, full result file)."""
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--corpus", "tiny"]
    if expected is not None:
        cmd += ["--expected", str(expected)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    artifact = r.stdout.split("result=")[1].split()[0]
    return line, json.loads(Path(artifact).read_text())


def order(res):
    return [[o["name"] for o in p["ops"]] for p in [res["warm"]] + res["passes"]]


def digests(res):
    return {o["name"]: (o["rows"], o["digest"]) for o in layers.all_ops(res)
            if o["name"] != layers.ETL}


class BenchmarkTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tpch = run("tpch", 5)
        cls.tpch_traced = run("tpch", 5, trace=1)

    def check_contract(self, line, trace):
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
        self.assertEqual(list(line["metrics"]), names)
        for m in SPEC["per_layer" if trace else "end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        self.assertGreaterEqual(line["attempted"], 1)

    def test_smoke_all_workloads(self):
        runs = {"tpch": self.tpch, "curation": run("curation", 5), "ingest": run("ingest", 5, trace=1)}
        for workload, (line, res) in runs.items():
            with self.subTest(workload=workload):
                self.assertTrue(line["correct"], res["failures"])
                self.assertEqual(line["failed"], 0)
                self.check_contract(line, res["trace"])
        m = {k: v["value"] for k, v in runs["ingest"][0]["metrics"].items()}
        self.assertGreater(m["streaming.batches"], 0)
        self.assertGreater(m["sinks.files"], 0)
        self.assertGreater(m["sources.pages_fetched"], 0)
        self.assertGreater(layers.per_layer(runs["ingest"][1])["sinks.write_s"][0], 0)
        # Every end-to-end metric is a positive measurement.
        for k, v in self.tpch[0]["metrics"].items():
            self.assertGreater(v["value"], 0, k)

    def test_traced_run_splits_tpch_into_layers(self):
        line, res = self.tpch_traced
        self.check_contract(line, 1)
        m = layers.per_layer(res)
        ops = len(res["passes"][0]["ops"])
        # Each TPC-H query re-registers the ten corpus tables: one footer
        # job per table, all inside the query-function call.
        self.assertEqual(m["tables.jobs"][0], 10 * ops)
        self.assertGreater(m["operators.build_s"][0], 0)
        self.assertGreater(m["exec.tasks"][0], 0)
        self.assertIn("tables", layers.layer_table(res, self.tpch[1]))

    def test_same_seed_same_order_and_results(self):
        (_, a), (_, b) = self.tpch, self.tpch_traced
        self.assertEqual(order(a), order(b))
        self.assertEqual(digests(a), digests(b))
        _, c = run("tpch", 6)
        self.assertNotEqual(order(a), order(c))
        self.assertEqual(digests(a), digests(c))

    def test_planted_wrong_expectation_fails_the_operation(self):
        expected = json.loads((BENCH / "expected.json").read_text())
        expected["tiny"]["q_tpch_q6"]["digest"] = "0" * 32
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=ROOT / ".bench_build",
                                         delete=False) as f:
            json.dump(expected, f)
        line, res = run("tpch", 5, expected=f.name)
        Path(f.name).unlink()
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], len(res["passes"]))
        self.assertEqual({x["name"] for x in res["failures"]}, {"q_tpch_q6"})


if __name__ == "__main__":
    unittest.main()
