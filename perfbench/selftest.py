"""Self-test of the harness pieces that need no JVM.

    python3 perfbench/selftest.py

Covers the spread statistic, event-log folding, span self time and
pickling of wrapped functions, the /proc readers, the archive generator's
closed form, the refusal to run outside a checkout, and that BENCHMARK.json
names the metrics and workloads the harness emits.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import types
import unittest
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
import tracing  # noqa: E402
from archive import build_archive, encode_png, pixels  # noqa: E402
from steady import spread  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
        # exclusive-method quartiles of the sorted list: 9.725 and 10.275
        self.assertAlmostEqual(spread(vals), (10.275 - 9.725) / 10.0)


class EventLogTest(unittest.TestCase):
    def test_fold_by_submission_window(self):
        def stage(sid, sub, tasks, run_ms, cpu_ns, write):
            acc = [{"Name": "internal.metrics.executorRunTime", "Value": run_ms},
                   {"Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
                   {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": write}]
            return json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": sid, "Number of Tasks": tasks, "Submission Time": sub,
                "Accumulables": acc}})

        lines = [
            json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 1_000}),
            stage(0, 1_001, 4, 2_000, 1_500_000_000, 1024 * 1024),
            json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 5_000}),
            stage(1, 5_001, 2, 100, 0, 0),
            json.dumps({"Event": "SparkListenerTaskEnd"}),
        ]
        jobs, stages = tracing.parse_event_log(lines)
        m = tracing.spark_window(jobs, stages, 0.9, 2.0)
        self.assertEqual((m["spark.jobs"], m["spark.stages"], m["spark.tasks"]), (1, 1, 4))
        self.assertAlmostEqual(m["spark.executor_run_s"], 2.0)
        self.assertAlmostEqual(m["spark.executor_cpu_s"], 1.5)
        self.assertAlmostEqual(m["spark.shuffle_write_mb"], 1.0)
        self.assertEqual(tracing.spark_window(jobs, stages, 4.0, 6.0)["spark.tasks"], 2)


class TracerTest(unittest.TestCase):
    def setUp(self):
        self.mod = types.ModuleType("fake_layer")

        def outer():
            time.sleep(0.02)
            self.mod.inner()
            self.mod.same()

        def inner():
            time.sleep(0.03)

        def same():
            time.sleep(0.01)

        for f in (outer, inner, same):
            f.__module__ = "fake_layer"
            setattr(self.mod, f.__name__, f)
        self.tracer = tracing.Tracer()
        self.tracer.wrap(self.mod, "outer", "a")
        self.tracer.wrap(self.mod, "same", "a")
        self.tracer.wrap(self.mod, "inner", "b")

    def test_self_time_and_folding(self):
        t0 = time.time()
        self.mod.outer()
        got = self.tracer.window(t0, time.time())
        self.assertEqual(got["a"][0], 1)  # 'same' folds into its caller of layer a
        self.assertEqual(got["b"][0], 1)
        self.assertAlmostEqual(got["a"][1], 0.03, delta=0.015)
        self.assertAlmostEqual(got["b"][1], 0.03, delta=0.015)
        self.assertEqual(self.tracer.window(t0 - 10, t0 - 5), {})

    def test_wrapped_module_function_pickles_by_reference(self):
        """Engine UDF closures name module functions as globals; cloudpickle
        must ship those by reference, never the wrapper and its tracer."""
        from pyspark import cloudpickle

        import archive

        original = archive.encode_png
        tracing.Tracer().wrap_module(archive, "archive")
        try:
            blob = cloudpickle.dumps(archive.encode_png)
            self.assertIsNot(archive.encode_png, original)
            self.assertNotIn(b"Tracer", blob)
            self.assertLess(len(blob), 200)
        finally:
            archive.encode_png = original


class ProcTest(unittest.TestCase):
    def test_tree_and_stat(self):
        child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
        try:
            self.assertIn(child.pid, tracing.descendants(os.getpid()))
            ppid, *_ = tracing.read_stat(child.pid)
            self.assertEqual(ppid, os.getpid())
            self.assertGreater(tracing.vm_hwm_kb(os.getpid()), 0)
            self.assertGreaterEqual(tracing.host_steal_s(), 0)
        finally:
            child.kill()
            child.wait()


class ArchiveTest(unittest.TestCase):
    def test_closed_form_and_codec(self):
        from web_crawler_spark.images import decode_png

        px = pixels("k", 80, 64)
        for ft in (0, 1, 2):
            self.assertTrue((decode_png(encode_png(px, ft)) == px).all(), ft)
        with tempfile.TemporaryDirectory() as d:
            arc = build_archive(d, seed=5, n_hosts=2, groups_per_host=6)
            members = 0
            for name in os.listdir(d):
                with open(os.path.join(d, name), "rb") as fh:
                    blob = fh.read()
                while blob:
                    z = zlib.decompressobj(wbits=31)
                    z.decompress(blob)
                    blob = z.unused_data
                    members += 1
            self.assertEqual(members, arc.n_records)
            self.assertEqual(arc.n_groups, 12)
            self.assertEqual(len(arc.release_ids), 12)
            self.assertEqual(arc.n_pairs, 12 + arc.n_variants + 2 * 4)
            self.assertTrue(all(i.endswith("0") for i in arc.release_ids))
            again = build_archive(os.path.join(d, "again"), seed=5, n_hosts=2, groups_per_host=6)
            self.assertEqual(again.release_ids, arc.release_ids)


class OutsideCheckoutTest(unittest.TestCase):
    def test_refuses_without_the_package(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "crawl_waves",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         harness.layer_units())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         harness.END_TO_END_UNITS)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
