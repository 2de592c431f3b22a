"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The first group is pure Python. The `EndToEnd` group builds the engine
and runs the harness on Spark (a few minutes); set PERFBENCH_SKIP_SPARK=1
to skip it.
"""
import contextlib
import io
import json
import math
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PB = os.path.dirname(HERE)
ROOT = os.path.dirname(PB)
sys.path.insert(0, PB)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "tests")

END_TO_END = ["pass_s", "op_geomean_ms", "setup_s"]
PER_LAYER = [
    "entry.build_s", "entry.eager_jobs", "views.register_s",
    "driver.analysis_s", "driver.optimization_s", "driver.planning_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.idle_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.deser_s", "exec.core_util",
    "exec.peak_mem_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
    "scan.input_bytes", "scan.input_rows",
    "cache.persisted_after", "cache.storage_bytes_after",
    "kernel.vec_score_ns_per_row", "kernel.shingle_ns_per_doc",
    "ops.jobs_per_op", "ops.plan_s_per_op",
    "self.tasks_s", "self.scheduler_s", "self.catalyst_s", "self.entry_s", "self.driver_s",
    "trace.overhead_s",
]


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def counters(jobs=1, stages=1, tasks=4):
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "task_ms": 40, "cpu_ns": 3e7,
            "gc_ms": 1, "deser_ms": 2, "spill_bytes": 0, "peak_mem_bytes": 100,
            "shuffle_write_bytes": 10, "shuffle_read_bytes": 10, "fetch_wait_ms": 0,
            "input_bytes": 1000, "input_rows": 50,
            "job_spans": [[0, 1002.0, 1008.0]], "stage_spans": [[0, 0, 1003.0, 1007.0]]}


def rep(p, seq, ok=True, traced=False, wall=10.0, rw="read"):
    t0 = 1000.0 + 100 * p + 20 * seq
    return {"pass": p, "seq": seq, "name": f"q{seq}", "rw": rw, "traced": traced,
            "t0": t0, "t1": t0 + 1, "t2": t0 + wall, "ok": ok,
            "error": None if ok else "boom",
            "persisted_after": 0, "storage_bytes_after": 0,
            "build": counters(0, 0, 0) if traced else None,
            "exec": counters() if traced else None,
            "plans": [{"in_build": True, "phases": {"analysis": [1000.0, 1001.0]}}]
            if traced else []}


def raw_run(trace=False, failing_pass=None):
    passes, reps = [], []
    for p in range(4):
        traced = trace and p % 2 == 1
        rs = [rep(p, s, ok=not (p == failing_pass and s == 1), traced=traced) for s in range(3)]
        reps += rs
        passes.append({"pass": p, "traced": traced, "wall_s": 0.5 + 0.1 * p, "cpu_s": 1.0,
                       "ok": all(r["ok"] for r in rs), "register_ms": 80.0 if traced else 0.0})
    return {"jvm_start_ms": 0, "spark_ready_ms": 2000, "ready_ms": 5000, "warm": [],
            "passes": passes, "reps": reps,
            "kernels": {"vec_score_ns_per_row": 3.0, "shingle_ns_per_doc": 900.0}}


class Inputs(unittest.TestCase):
    SMALL = {"documents": 60, "embeddings": 40, "customer": 15, "supplier": 3, "part": 20,
             "orders": 30, "lineitem": 90, "events": 50, "users": 7}

    def spec(self, kind):
        w = {"kind": kind, "input_sizes": self.SMALL}
        if kind == "vfdb":
            # 16 writes: the facade's checkpoint and audit-flush cadence
            w["script"] = {"passes": 3, "pass_ops": ["search", "add", "get", "search_pg",
                                                     "update", "delete", "form", "search",
                                                     "recompute", *["add", "update"] * 5,
                                                     "delete"]}
        return {"workloads": {"w": w}}

    def files(self, d):
        out = {}
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = fh.read()
        return out

    def test_same_seed_gives_byte_identical_inputs(self):
        for kind in ("queries", "vfdb"):
            dirs = [os.path.join(SCRATCH, f"inputs-{kind}-{i}") for i in range(3)]
            for d, seed in zip(dirs, (7, 7, 8)):
                shutil.rmtree(d, ignore_errors=True)
                gen.generate(d, seed, "w", self.spec(kind))
            a, b, c = (self.files(d) for d in dirs)
            self.assertEqual(set(a), {f"{t}.parquet" for t in gen.TABLES}
                             | ({"vfdb_script.json"} if kind == "vfdb" else set()))
            self.assertEqual(a, b)
            self.assertNotEqual(a["documents.parquet"], c["documents.parquet"])

    def test_script_expectations_follow_the_ops(self):
        labels = [i % 10 for i in range(40)]
        import numpy as np
        s = gen.vfdb_script(np.random.Generator(np.random.PCG64(3)), labels,
                            self.spec("vfdb")["workloads"]["w"]["script"])
        ops = s["warm"] + [o for p in s["passes"] for o in p]
        writes = sum(o["op"] not in gen.READS for o in ops)
        self.assertEqual(s["expect_after"][-1]["history_len"], 1 + writes)
        added = sum(len(o["rows"]) for o in ops if o["op"] == "add")
        deleted = sum(o["op"] == "delete" for o in ops)
        self.assertEqual(s["expect_after"][-1]["iglyph_count"], 40 + added - deleted)
        self.assertEqual(s["expect_after"][-1]["pglyph_count"],
                         sum(o["op"] == "form" for o in ops))
        self.assertTrue(all(sum(o["op"] not in gen.READS for o in p) == 16
                            for p in s["passes"]))
        # every pass runs the same op sequence
        self.assertEqual({tuple(o["op"] for o in p) for p in s["passes"]},
                         {tuple(self.spec("vfdb")["workloads"]["w"]["script"]["pass_ops"])})

    def test_pass_off_the_checkpoint_cadence_is_refused(self):
        import numpy as np
        with self.assertRaises(ValueError):
            gen.vfdb_script(np.random.Generator(np.random.PCG64(3)), [0] * 40,
                            {"passes": 1, "pass_ops": ["search", "add", "update"]})


class Metrics(unittest.TestCase):
    def test_metric_name_set_is_pinned(self):
        b = bench()
        self.assertEqual([m["name"] for m in b["end_to_end"]], END_TO_END)
        self.assertEqual([m["name"] for m in b["per_layer"]], PER_LAYER)
        untraced = metrics.summarize(raw_run(), [], trace=False, cores=4)["metrics"]
        traced = metrics.summarize(raw_run(trace=True), [], trace=True, cores=4)["metrics"]
        self.assertTrue(set(END_TO_END) <= set(untraced))
        self.assertTrue(set(PER_LAYER) <= set(traced))

    def test_p95_only_with_ten_samples_beyond(self):
        xs = list(range(1, 201))
        self.assertEqual(metrics.percentile(xs, 95), 190)      # 10 samples beyond
        self.assertIsNone(metrics.percentile(xs[:199], 95))    # only 9 beyond
        self.assertEqual(metrics.percentile([3.0], 50), 3.0)
        self.assertIsNone(metrics.percentile([], 50))
        q, v, n = metrics.tail_percentile(list(range(1, 51)))
        self.assertEqual((q, v, n), (75, 38, 50))

    def test_failed_rep_is_counted_and_kept_out_of_pass_s(self):
        s = metrics.summarize(raw_run(failing_pass=2), [], trace=False, cores=4)
        self.assertFalse(s["correct"])
        self.assertEqual(s["failed"], 1)
        # clean passes 0, 1, 3 (walls 0.5, 0.6, 0.8): the failed pass 2 is out
        self.assertAlmostEqual(s["metrics"]["pass_s"], 0.6)
        ok = metrics.summarize(raw_run(), [], trace=False, cores=4)
        self.assertTrue(ok["correct"])
        self.assertEqual(ok["failed"], 0)
        self.assertEqual(ok["attempted"], 12)

    def test_output_mismatch_counts_as_failed(self):
        checks = [{"name": "q0", "ok": True}, {"name": "q1", "ok": False}]
        s = metrics.summarize(raw_run(), checks, trace=False, cores=4)
        self.assertFalse(s["correct"])
        self.assertEqual((s["failed"], s["attempted"]), (1, 14))

    def test_facade_overhead_comes_from_equivalent_probe_rounds(self):
        raw = raw_run(trace=True)
        # facade passes each meet a different store: only the read-only
        # probe rounds at the final store are compared
        raw["overhead_probe"] = [{"round": k, "traced": k in (1, 2), "ok": True,
                                  "wall_s": w} for k, w in enumerate((2.0, 2.3, 2.5, 2.2))]
        m = metrics.summarize(raw, [], trace=True, cores=4)["metrics"]
        self.assertAlmostEqual(m["trace.overhead_s"], 2.4 - 2.1)
        # the queries' ABBA: traced passes 1, 3 (0.6, 0.8) against untraced 0, 2
        m = metrics.summarize(raw_run(trace=True), [], trace=True, cores=4)["metrics"]
        self.assertAlmostEqual(m["trace.overhead_s"], 0.7 - 0.6)
        self.assertAlmostEqual(m["views.register_s"], 0.08)

    def test_self_times_partition_the_rep_wall(self):
        r = rep(0, 0, traced=True)
        st = metrics.self_times_ms(r)
        self.assertAlmostEqual(sum(st.values()), r["t2"] - r["t0"])
        self.assertAlmostEqual(st["tasks"], 4.0)       # stage 1003-1007
        self.assertAlmostEqual(st["scheduler"], 2.0)   # job 1002-1008 minus the stage


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SPARK"), "PERFBENCH_SKIP_SPARK set")
class EndToEnd(unittest.TestCase):
    def run_bench(self, *argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.main(list(argv))
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def test_injected_failure_counts_and_never_reads_as_fast(self):
        r = self.run_bench("--workload", "corpus_dedup", "--seed", "5", "--seconds", "0",
                           "--queries", "dedup_minhash_lsh,decontaminate",
                           "--inject-fail", "decontaminate", "--max-passes", "2")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 2)                 # one failed rep per pass
        self.assertIsNone(r["metrics"]["pass_s"]["value"])

    def test_scheduler_counts_of_a_fixed_query_repeat_exactly(self):
        self.run_bench("--workload", "corpus_dedup", "--seed", "5", "--seconds", "0",
                       "--queries", "decontaminate", "--trace", "1",
                       "--min-passes", "10", "--max-passes", "10")
        with open(os.path.join(run.WORK, "results", "corpus_dedup-seed5-trace1.json")) as f:
            rec = json.load(f)
        reps = [r for r in rec["per_rep"] if r["name"] == "decontaminate"]
        self.assertEqual(len(reps), 5)
        for k in ("sched.jobs", "sched.stages", "sched.tasks"):
            self.assertEqual(len({r[k] for r in reps}), 1, k)
            self.assertGreater(reps[0][k], 0)


if __name__ == "__main__":
    unittest.main()
