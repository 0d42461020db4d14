"""Tests of the benchmark harness itself.

    python3 -m unittest perfbench/test_run.py              # fast checks
    PERFBENCH_E2E=1 python3 -m unittest perfbench/test_run.py
                                                   # plus real runs
"""
import json
import os
import pathlib
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.loads(pathlib.Path(ROOT, "BENCHMARK.json").read_text())
E2E = [m["name"] for m in SPEC["end_to_end"]]
LAYERS = [m["name"] for m in SPEC["per_layer"]]


def tail_parse(stdout):
    """What a reader keeping only the last 2000 bytes of stdout sees."""
    tail = stdout.encode()[-2000:].decode(errors="replace")
    return json.loads(tail.rstrip("\n").split("\n")[-1])


def fake_result(names):
    # values with every digit, as measured values print
    return {"attempted": 123456, "failed": 0, "failures": [], "info": {},
            "metrics": {n: {"value": 12345.678901234567, "unit": "s"}
                        for n in E2E},
            "layers": {n: {"value": 12345.678901234567, "unit": "count"}
                       for n in names}}


class FinalLine(unittest.TestCase):
    def test_e2e_line_survives_a_2000_char_tail(self):
        line = run.final_line(fake_result(LAYERS), trace=0)
        self.assertLess(len(line), 2000)
        self.assertNotIn("[info]", line)
        noise = "perfbench: info " + "x" * 5000 + "\n"
        got = tail_parse(noise + line + "\n")
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(got["metrics"]), E2E)
        self.assertTrue(got["correct"])

    def test_trace_line_carries_every_layer_metric(self):
        got = json.loads(run.final_line(fake_result(LAYERS), trace=1))
        self.assertEqual(sorted(got["metrics"]), sorted(LAYERS))

    def test_missing_value_is_not_correct(self):
        res = fake_result(LAYERS)
        res["metrics"]["setup_s"]["value"] = None
        self.assertFalse(json.loads(run.final_line(res, trace=0))["correct"])

    def test_failed_check_is_not_correct(self):
        res = fake_result(LAYERS)
        res["failed"] = 1
        self.assertFalse(json.loads(run.final_line(res, trace=0))["correct"])


class Inputs(unittest.TestCase):
    def setUp(self):
        self.root = os.path.join(run.WORK, "test-inputs")
        shutil.rmtree(self.root, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def test_same_seed_same_bytes_and_marker_reuse(self):
        sizes = dict(seed_docs=300, batches=9, batch_docs=20,
                     backfill_docs=60, backfill_every=4, near_dup_share=0.2,
                     takedown_every=4, takedown_share=0.05, maint_every=4)
        a, pa = gen.ensure(os.path.join(self.root, "a"), "ingest", 7, **sizes)
        b, pb = gen.ensure(os.path.join(self.root, "b"), "ingest", 7, **sizes)
        self.assertEqual(pa, pb)
        for f in ("seed.parquet", "batches.parquet", "ingest.json"):
            self.assertEqual(pathlib.Path(a, f).read_bytes(),
                             pathlib.Path(b, f).read_bytes())
        self.assertEqual(pa["backfills"], 2)
        os.remove(f"{a}/seed.parquet")  # reuse trusts the marker
        self.assertEqual(gen.ensure(os.path.join(self.root, "a"), "ingest",
                                    7, **sizes), (a, pa))

    def test_injected_near_dups_pass_the_threshold(self):
        out, _ = gen.ensure(self.root, "ingest", 3, seed_docs=200, batches=5,
                            batch_docs=50, backfill_docs=50, backfill_every=4,
                            near_dup_share=0.2, takedown_every=4,
                            takedown_share=0.05, maint_every=4)
        import pyarrow.parquet as pq
        texts = dict(zip(*[pq.read_table(f"{out}/seed.parquet")[c].to_pylist()
                           for c in ("doc_id", "text")]))
        batches = pq.read_table(f"{out}/batches.parquet").to_pydict()
        texts.update(zip(batches["doc_id"], batches["text"]))
        injected = json.loads(pathlib.Path(out, "ingest.json").read_text())["injected"]
        self.assertTrue(injected)

        def shingles(t):
            w = t.split()
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
        for doc, src in injected.items():
            a, b = shingles(texts[int(doc)]), shingles(texts[src])
            self.assertGreaterEqual(len(a & b) / len(a | b), 0.7)


class Standalone(unittest.TestCase):
    def test_fails_without_the_library_sources(self):
        d = os.path.join(run.WORK, "test-standalone")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                ".work", "target", "__pycache__"))
            p = subprocess.run(SPEC["command"] + [
                "--workload", "suite", "--seed", "1", "--seconds", "1",
                "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("metrics", p.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1")
class EndToEnd(unittest.TestCase):
    def run_workload(self, workload):
        p = subprocess.run(SPEC["command"] + [
            "--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", "0"], cwd=ROOT, capture_output=True, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:])
        got = tail_parse(p.stdout)
        self.assertTrue(got["correct"])
        self.assertEqual(sorted(got["metrics"]), sorted(E2E))
        self.assertTrue(all(m["value"] > 0 for m in got["metrics"].values()))

    def test_first_workload_tail_parses_with_every_metric(self):
        self.run_workload(SPEC["workloads"][0]["name"])

    def test_suite_matches_expected_digests(self):
        self.run_workload("suite")


if __name__ == "__main__":
    unittest.main()
