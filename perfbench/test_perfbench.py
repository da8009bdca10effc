#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py

The first group runs without a JVM. The last two run the benchmark
itself (about seven minutes on four cores): every workload once untraced,
then twice traced with one seed.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from unittest import mock
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
import tracediff  # noqa: E402

WORKLOADS = [w["name"] for w in run.SPEC["workloads"]]
E2E = {m["name"]: m["unit"] for m in run.SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in run.SPEC["per_layer"]}


def bench(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run([sys.executable, str(run.BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    assert p.returncode == 0, p.stdout[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def latest_trace(workload: str, seed: int) -> Path:
    return max((run.WORK / "runs").glob(f"{workload}-{seed}-t1-*.trace.json"),
               key=lambda p: p.stat().st_mtime)


class Offline(unittest.TestCase):
    def test_spec_lists_metrics_and_workloads_the_runner_knows(self):
        self.assertEqual(sorted(WORKLOADS), sorted(run.LAYERS["workloads"]))
        fake = {"pass_s": [9.0, 9.0, 1.0, 2.0, 4.0, 6.0], "cold_pass_s": 9.0,
                "heap_after_gc_mb": 80.0, "start_s": 11.0, "setup_s": [1.0, 2.0, 3.0]}
        for w in WORKLOADS:
            self.assertEqual(set(run.end_to_end(fake, w, 100)), set(E2E), w)
        # pass_s is the median of the workload's fixed count of later passes
        with mock.patch.dict(run.LAYERS["workloads"]["laygo_chain"], counted_passes=3):
            self.assertEqual(run.end_to_end(fake, "laygo_chain", 100)["pass_s"], 4.0)

    def test_deterministic_counters_come_from_layers_json(self):
        per_layer = {"sched.jobs": 5.0, "sched.driver_gap_s": 0.3, "q.span_corrupt.jobs": 1.0,
                     "q.span_corrupt.s": 0.2, "shuffle.write_bytes": 10.0}
        self.assertEqual(set(run.deterministic(per_layer)),
                         {"sched.jobs", "q.span_corrupt.jobs", "shuffle.write_bytes"})

    def test_wrong_laygo_expectation_is_a_failed_op(self):
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            (d / "laygo").mkdir()
            x = list(range(0, 400, 3))
            pq.write_table(pa.table({"x": pa.array(x, pa.int64()),
                                     "k": pa.array([v % 11 for v in x], pa.int32())}),
                           d / "laygo" / "part-0.parquet")
            chain = [v * 2 + 1 for v in x if v % 2 == 0 and v * 2 > 100]
            per_key = {}
            for v in x:
                if (v % 11) % 7:
                    n, s = per_key.get(v % 11, (0, 0))
                    per_key[v % 11] = (n + 1, s + v)
            gate = {"chain_transformer": [len(chain), sum(chain)],
                    "chain_typed": [len(chain), sum(chain)],
                    "tap_catch_reduce": {"tap_rows": len(x),
                                         "per_key": [[k, n, s] for k, (n, s) in per_key.items()]},
                    "first_n": (chain * 2)[:100]}
            res = {"failed_calls": [], "gate": gate, "calls": list(gate)}
            ok = run.check_laygo(gate, run.laygo_expected(d, gate["first_n"]))
            self.assertEqual(run.failed_calls(res, ok), set())
            want = run.laygo_expected(d, gate["first_n"])
            want["chain"][1] += 1  # the injected wrong expectation
            self.assertEqual(run.failed_calls(res, run.check_laygo(gate, want)),
                             {"chain_transformer", "chain_typed"})

    def test_wrong_query_oracle_is_a_failed_op(self):
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            inputs, results = d / "in", d / "results"
            inputs.mkdir()
            for t in run.COPIED + run.PLACEHOLDERS:
                pq.write_table(pa.table({"v": pa.array([1, 2, 3], pa.int64())}),
                               inputs / f"{t}.parquet")
            (results / "q_sum").mkdir(parents=True)
            pq.write_table(pa.table({"s": pa.array([6], pa.int64())}),
                           results / "q_sum" / "part-0.parquet")
            good = run.check_queries(inputs, results, {"q_sum": "SELECT sum(v)::BIGINT AS s FROM events"})
            self.assertEqual(good, {"q_sum": True})
            bad = run.check_queries(inputs, results, {"q_sum": "SELECT 7::BIGINT AS s"})
            res = {"failed_calls": [], "calls": ["q_sum"]}
            self.assertEqual(run.failed_calls(res, bad), {"q_sum"})

    def test_counter_diff_flags_one_extra_job(self):
        old = {"deterministic": {"sched.jobs": 12.0, "q.knn_recall_curve.jobs": 11.0,
                                 "shuffle.write_bytes": 5000.0}}
        new = json.loads(json.dumps(old))
        self.assertEqual(tracediff.moved(old, new), {})
        new["deterministic"]["sched.jobs"] += 1
        new["deterministic"]["q.knn_recall_curve.jobs"] += 1
        self.assertEqual(set(tracediff.moved(old, new)), {"sched.jobs", "q.knn_recall_curve.jobs"})
        with tempfile.TemporaryDirectory() as d:
            a, b = Path(d) / "a.json", Path(d) / "b.json"
            a.write_text(json.dumps(old)); b.write_text(json.dumps(new))
            self.assertEqual(tracediff.main([str(a), str(b)]), 1)
            self.assertEqual(tracediff.main([str(a), str(a)]), 0)


class Runs(unittest.TestCase):
    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in WORKLOADS:
            r = bench(w, 7, 0)
            self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, E2E, w)
            self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()), w)
            self.assertEqual((r["correct"], r["failed"]), (True, 0), w)
            self.assertGreater(r["attempted"], 0, w)

    def test_one_seed_reproduces_every_deterministic_counter(self):
        for w in WORKLOADS:
            first = bench(w, 5, 1)
            self.assertEqual({k: v["unit"] for k, v in first["metrics"].items()}, PER_LAYER, w)
            a = json.loads(latest_trace(w, 5).read_text())
            bench(w, 5, 1)
            b = json.loads(latest_trace(w, 5).read_text())
            self.assertTrue(a["deterministic"], w)
            self.assertEqual(tracediff.moved(a, b), {}, w)
            # an injected +1 job on a real trace is flagged
            b["deterministic"]["sched.jobs"] += 1
            self.assertEqual(set(tracediff.moved(a, b)), {"sched.jobs"}, w)


if __name__ == "__main__":
    unittest.main()
