"""Unit tests of the benchmark's own statistics and checks.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests -v
The digest test builds the benchmark (see build.py) and runs a JVM.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def op(pass_, seconds, kind="short", family="json", ok=True, traced=False, bytes_=0, name="json_filter"):
    return {"op": name, "pass": pass_, "seconds": seconds, "kind": kind, "family": family, "ok": ok,
            "traced": traced, "bytes": bytes_, "layers": {}}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct = stats.tail(reversed(xs))
        self.assertEqual(value, 30)
        self.assertEqual(len([x for x in xs if x > value]), 10)
        self.assertEqual(pct, 75.0)

    def test_eleven_samples(self):
        value, pct = stats.tail([5.0] + [9.0] * 10)
        self.assertEqual(value, 5.0)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (1.0, 0.0))
        self.assertEqual(stats.tail([]), (0.0, 0.0))


class RatioTest(unittest.TestCase):
    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(27, 0), 0.0)
        self.assertEqual(stats.failed_ratio(12, 3), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_write_amp(self):
        self.assertEqual(stats.write_amp(300, 100), 3.0)
        with self.assertRaises(ValueError):
            stats.write_amp(10, 0)


class SummarizeTest(unittest.TestCase):
    def result(self, workload, **extra):
        ops = [op(-1, 9.0, ok=False),  # a warm-up op: attempted and failed, not timed
               op(0, 1.0, "heavy"), op(0, 0.5), op(0, 0.25, family="csv", bytes_=10**6),
               op(1, 2.0, "heavy"), op(1, 0.5), op(1, 0.5, family="csv", bytes_=10**6),
               op(2, 5.0, "heavy", traced=True)]
        passes = [dict(pass_rec, **extra) for pass_rec in (
            {"pass": 0, "traced": False, "wall_s": 1.8},
            {"pass": 1, "traced": False, "wall_s": 3.2},
            {"pass": 2, "traced": True, "wall_s": 9.0})]
        return {"workload": workload, "session_start_s": 2.0, "setup_rounds_s": [1.0, 3.0, 2.0],
                "warmup_s": 4.0, "heap_retained_mb": 50.0, "passes": passes, "ops": ops}

    def test_end_to_end(self):
        e2e, wm, notes, attempted, failed = stats.summarize(self.result("scan-pushdown"))
        self.assertEqual(set(e2e), set(stats.END_TO_END))
        self.assertEqual(e2e["setup_s"], 2.0 + 2.0 + 4.0)
        # the median of the untraced passes' op-time sums, 1.75 and 3.0
        self.assertEqual(e2e["pass_s"], 2.375)
        self.assertEqual(e2e["heavy_pass_s"], 1.5)
        self.assertEqual(e2e["short_pass_s"], 0.875)
        self.assertEqual(wm["op_p50_s"], 0.5)
        self.assertEqual(wm["op_tail_s"], 0.25)  # six samples: the smallest
        self.assertEqual((attempted, failed), (8, 1))
        self.assertEqual(wm["failed_ratio"], 1 / 8)
        self.assertEqual(wm["csv_mbps"], 3.0)  # median of 4 and 2 MB/s
        self.assertEqual(notes["op_samples"], 6)

    def test_table_metrics(self):
        r = self.result("table-churn", stream_batch_ms=[100.0, 300.0],
                        bytes_written=300, user_bytes=100)
        _, wm, _, _, _ = stats.summarize(r)
        self.assertEqual(wm["write_amp"], 3.0)
        self.assertEqual(wm["stream_batch_p50_s"], 0.2)

    def test_layers(self):
        r = self.result("scan-pushdown")
        r["cpus"] = 4
        r["ops"][-1]["layers"] = {"spark.scan.bytes_read": 500.0, "exec.jobs": 2.0,
                                  "spark.scan.task_ms": 4000.0}
        r["ops"][-1]["bytes"] = 1000
        r["passes"][2].update(span_ms={"table.append": 7.0}, self_ms={"exec": 3.0},
                              spans=4, jvm_gc_ms=1, jvm_alloc_mb=2.0)
        out = stats.layers(r, {"core.csv.mbps": 99.0})
        self.assertEqual(set(out), set(stats.PER_LAYER))
        self.assertEqual(out["spark.scan.read_fraction"], 0.5)
        self.assertEqual(out["spark.scan.task_share"], 0.2)  # 4 s of 4 cores x 5 s
        self.assertEqual(out["exec.jobs"], 2.0)
        self.assertEqual(out["spark.scan.json_filter.bytes_read"], 500.0)
        self.assertEqual(out["spark.scan.json_full.bytes_read"], 0.0)
        self.assertEqual(out["table.append_ms"], 7.0)
        self.assertEqual(out["self_ms.exec"], 3.0)
        self.assertEqual(out["core.csv.mbps"], 99.0)
        self.assertEqual(out["trace.overhead_s"], 5.0 - 2.375)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metrics_match_stats(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, stats.PER_LAYER)


class DigestTest(unittest.TestCase):
    def test_digest_order_insensitive(self):
        classes = build.build()
        out_dir = os.path.join(os.path.dirname(BENCH), ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=out_dir) as tmp:
            r = subprocess.run(["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                                "-cp", build.classpath(classes), "graft.perfbench.SelfTest", tmp],
                               capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("ok   digest ignores row order", r.stdout)


if __name__ == "__main__":
    unittest.main()
