"""Tests for the benchmark harness itself (no engine, no JVM).

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import re
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
import layers  # noqa: E402
import run  # noqa: E402

SMALL = {
    "etl_scan_feed": dict(gen.ETL, hosts=300, days=2),
    "corpus_refresh": dict(gen.CORPUS, batches=3, docs=20),
    "stream_ingest": dict(gen.STREAM, batches=3, users=50, docs=10),
}


def tree(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.tmp)

    def generate(self, name, seed, tag):
        out = os.path.join(self.tmp, f"{name}_{tag}")
        facts, _ = gen.GENERATORS[name](out, seed, SMALL[name])
        return out, facts

    def test_same_seed_gives_identical_bytes(self):
        for name in gen.GENERATORS:
            with self.subTest(name):
                a, fa = self.generate(name, 7, "a")
                b, fb = self.generate(name, 7, "b")
                self.assertEqual(tree(a), tree(b))
                _, mismatch, errors = filecmp.cmpfiles(
                    a, b, tree(a), shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                self.assertEqual(fa, fb)

    def test_other_seed_gives_other_bytes(self):
        for name in gen.GENERATORS:
            with self.subTest(name):
                a, _ = self.generate(name, 7, "a")
                b, _ = self.generate(name, 8, "b")
                _, mismatch, _ = filecmp.cmpfiles(
                    a, b, tree(a), shallow=False)
                self.assertTrue(mismatch)

    def test_planted_duplicates_are_recorded(self):
        out = os.path.join(self.tmp, "corpus")
        facts, truth = gen.corpus_batches(out, 3, SMALL["corpus_refresh"])
        texts = {}
        for b in truth["batches"]:
            with open(b["path"]) as f:
                texts.update((d["doc_id"], d["text"])
                             for d in map(json.loads, f))
        exact = [p for b in truth["batches"] for p in b["exact"]]
        self.assertEqual(len(exact), facts["planted_exact"])
        self.assertTrue(exact)
        for dup, src in exact:
            self.assertEqual(texts[dup], texts[src])
        for dup, src in (p for b in truth["batches"] for p in b["near"]):
            self.assertNotEqual(texts[dup], texts[src])
            self.assertLess(dup, 10**6 * (len(truth["batches"]) + 1))


class AttributionTest(unittest.TestCase):
    def test_innermost_graft_frame_wins(self):
        site = "\n".join([
            "graft.operators.Dedup$.writeMinhashIndex(Dedup.scala:1800)",
            "graft.Pipeline$.$anonfun$refreshCorpus$14(Pipeline.scala:980)",
            "graft.operators.Lease$.withLeases(Lease.scala:90)",
            "graft.Pipeline$.refreshCorpus(Pipeline.scala:560)",
            "perfbench.CorpusRefresh.refresh(Workloads.scala:100)"])
        self.assertEqual(layers.layer_of(site), "operators.Dedup")

    def test_sql_threaded_job_takes_its_execution_call_site(self):
        helper = "\n".join([
            "java.base/java.util.concurrent.FutureTask.run("
            "FutureTask.java:264)",
            "java.base/java.lang.Thread.run(Thread.java:840)"])
        sql = "\n".join([
            "graft.sources.Sinks$.singleFileCsv(Sinks.scala:40)",
            "graft.Pipeline$.run(Pipeline.scala:57)"])
        self.assertEqual(layers.layer_of(helper, sql), "sinks")
        self.assertEqual(layers.layer_of(helper, ""), "unattributed")

    def test_par_pool_thread_job_belongs_to_its_task(self):
        tail = "\n".join([
            "graft.operators.Par$$anon$1.call(Par.scala:51)",
            "java.base/java.util.concurrent.FutureTask.run("
            "FutureTask.java:264)",
            "java.base/java.util.concurrent.ThreadPoolExecutor.runWorker("
            "ThreadPoolExecutor.java:1136)"])
        self.assertEqual(layers.layer_of(
            "graft.operators.Dedup$.$anonfun$writeHammingIndex$5"
            "(Dedup.scala:1282)\n" + tail), "operators.Dedup")
        self.assertEqual(layers.layer_of(
            "graft.Pipeline$.$anonfun$refreshCorpus$20(Pipeline.scala:990)\n"
            + tail), "Pipeline")

    def test_module_names(self):
        cases = {
            "app//graft.sources.Sources$.logentryCsv(Sources.scala:40)":
                "sources",
            "graft.streaming.StreamingAgg$.processScreenBatch("
            "StreamingAgg.scala:530)": "streaming",
            "graft.operators.Barriers$.barrier(Barriers.scala:60)":
                "operators.Barriers",
            "graft.operators.StarSchema$.buildCubes(StarSchema.scala:60)":
                "operators.StarSchema",
            "graft.operators.Lease$.withLeases(Lease.scala:90)": "other",
            "graft.SparkEntry$.q01(SparkEntry.scala:10)": "other",
            "org.apache.spark.sql.graftshim.AggBridge$.f("
            "AggBridge.scala:10)": None,
            "perfbench.StreamIngest.step(Workloads.scala:200)": None,
        }
        for frame, want in cases.items():
            with self.subTest(frame):
                self.assertEqual(layers.module_of(frame), want)

    def test_streaming_thread_without_graft_frames(self):
        self.assertEqual(layers.layer_of(
            "java.base/java.lang.Thread.run(Thread.java:840)",
            streaming=True), "streaming")


class AggregationTest(unittest.TestCase):
    def test_union_of_intervals(self):
        self.assertEqual(layers.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(layers.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(layers.union_ms([]), 0)

    def test_per_layer_sums_and_shares(self):
        def job(frames, start, end, **kw):
            j = dict(frames=frames, sql_frames="", streaming=False,
                     start_ms=start, end_ms=end, stages=1, tasks=4,
                     failed_tasks=0, cpu_ns=10**9, run_ms=1000, wait_ms=0,
                     shuffle_write_bytes=10, spill_bytes=0, output_bytes=5)
            j.update(kw)
            return j
        dedup = "graft.operators.Dedup$.f(Dedup.scala:1)"
        trace = dict(plan_ms=500, stream_progress=[], jobs=[
            job(dedup, 0, 1000), job(dedup, 500, 1500, wait_ms=1000),
            job("", 1500, 2000)], driver_samples={
                "graft.operators.RiskAggregation$.run(": 30,
                "graft.sources.Sinks$.indexedParquet(": 60, "": 10})
        calls = [dict(wall_s=2.0, bytes_written=100, files_written=4)]
        m = layers.per_layer(trace, calls, cores=2)
        self.assertEqual(m["operators.Dedup.jobs"], 2)
        self.assertEqual(m["operators.Dedup.busy_frac"], 0.75)
        self.assertEqual(m["operators.Dedup.task_cpu_frac"], 0.5)
        self.assertEqual(m["unattributed.busy_frac"], 0.25)
        self.assertEqual(m["operators.RiskAggregation.jobs"], 0)
        self.assertEqual(m["operators.RiskAggregation.driver_frac"], 0.3)
        self.assertEqual(m["sinks.driver_frac"], 0.6)
        self.assertEqual(m["unattributed.driver_frac"], 0.1)
        self.assertEqual(m["operators.Dedup.driver_frac"], 0)
        self.assertEqual(m["spark.job_overlap_frac"], 0.2)
        self.assertEqual(m["spark.scheduler_delay_frac"], 0.25)
        self.assertEqual(m["spark.plan_s"], 0.5)
        self.assertEqual(m["spark.files_written"], 4)
        self.assertEqual(set(m), {n for n, _ in layers.per_layer_names()}
                         - {"operators.Dedup.dropped_per_dup_pair",
                            "operators.Dedup.planted_recall",
                            "trace.call_s", "trace_overhead_frac"})


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_every_emitted_metric_is_declared(self):
        name_ok = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for key, emitted in (("end_to_end", run.END_TO_END),
                             ("per_layer", layers.per_layer_names())):
            declared = {m["name"]: m["unit"] for m in self.spec[key]}
            self.assertEqual(declared, dict(emitted), key)
            for name in declared:
                self.assertRegex(name, name_ok)
                self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")

    def test_every_workload_is_listed(self):
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(names, list(run.WORKLOADS))

    def test_every_part_is_run_by_a_workload(self):
        # a generator (and its JVM side) that no listed workload drives
        # would rot unnoticed
        used = {p for parts in run.WORKLOADS.values() for p in parts}
        self.assertEqual(used, set(gen.GENERATORS))
        self.assertEqual(set(run.TRAIN_SIZES), set(gen.GENERATORS))

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run(
                self.spec["command"] + ["--workload", "etl_stream",
                                        "--seed", "1", "--seconds", "1",
                                        "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
