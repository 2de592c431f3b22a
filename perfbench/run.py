#!/usr/bin/env python3
"""The engine's benchmark: one workload, one client, closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
(`build.py`), writes the workload's inputs for the seed (`gen.py`), and
runs `perfbench.Harness` on `local[<all cores>]`: set-up with an
untimed warm pass that also writes each query's output, then timed
passes for `--seconds`. It then checks outputs (each query's rows
against the engine's DuckDB oracle SQL on the same inputs; for the
facade script, the membership hash and the store statistics the script
implies) and prints one JSON line: `correct`, `attempted`, `failed` and
the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) named in BENCHMARK.json.

Everything it writes stays under `.bench_work/` in the checkout; the
full per-rep record of a run goes to `.bench_work/results/`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
HARNESS_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]
# where the engine's fitted-index and oracle dumps go (they default to /tmp)
DUMP_PROPS = ("graft.kmeans.centroid.dump", "graft.kmeans.persist.dump",
              "graft.kmeans.compact.dump", "graft.containment.index.dump",
              "graft.dedup.index.dump", "graft.icws.sketch.dump", "graft.pq.dump",
              "graft.pca.dump", "graft.quality.dump", "graft.bpe.dump", "graft.bm25.index")


def inputs_for(workload, seed, spec, warm=False):
    """The generated input dir for (workload, seed), or with `warm` its
    small warm-up inputs; reused while the generator and the workload's
    sizes and script are unchanged."""
    w = spec["workloads"][workload]
    h = hashlib.sha256(json.dumps([w["kind"], w["input_sizes"], w.get("warm_sizes"),
                                   w.get("script"), warm], sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}" + ("-warm" if warm else ""))
    stamp = os.path.join(d, ".stamp")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return d
    shutil.rmtree(d, ignore_errors=True)
    gen.generate(d, seed, workload, spec, warm=warm)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return d


def run_harness(classes, plan, run_dir):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = [f"-D{p}={os.path.join(run_dir, 'dumps', p)}" for p in DUMP_PROPS]
    # -XX:-UsePerfData: the JVM would otherwise keep its perf file under /tmp.
    # -XX:CICompilerCount=2: the facade compiles new generated code for
    # every op, and three compiler threads on 4 cores took CPU from the
    # driver and the tasks at random; with two, the five-seed spread of
    # vfdb_session's pass_s fell from 0.17 to 0.12
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:CICompilerCount=2",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           *props, "-cp", f"{classes}:{jars}", "perfbench.Harness",
           os.path.join(run_dir, "plan.json")]
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness exceeded {HARNESS_TIMEOUT_S}s")
    if p.returncode != 0 or not os.path.isfile(plan["result"]):
        with open(os.path.join(run_dir, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {p.returncode}:\n{tail}")
    with open(plan["result"]) as f:
        return json.load(f)


def make_plan(args, spec, input_dir, run_dir, inject_fail=(), min_passes=1, max_passes=None):
    w = spec["workloads"][args.workload]
    plan = {"workload": args.workload, "kind": w["kind"], "input_dir": input_dir,
            "check_dir": os.path.join(run_dir, "check"),
            "result": os.path.join(run_dir, "result.json"),
            "seconds": args.seconds, "trace": bool(args.trace), "cores": os.cpu_count(),
            # a traced query run interleaves untraced and traced passes as
            # ABBA: it needs all four
            "min_passes": max(min_passes, w.get("min_passes", 1),
                              4 if args.trace and w["kind"] == "queries" else 1),
            "inject_fail": list(inject_fail)}
    if w.get("warm_passes"):
        plan["warm_passes"] = w["warm_passes"]
        plan["warm_dir"] = inputs_for(args.workload, args.seed, spec, warm=True)
    if max_passes:
        plan["max_passes"] = max_passes
    if w["kind"] == "queries":
        rng = random.Random(args.seed)
        qs = w["queries"]
        if args.queries:
            unknown = set(args.queries.split(",")) - set(qs)
            if unknown:
                sys.exit(f"not queries of {args.workload}: {sorted(unknown)}")
            qs = [q for q in qs if q in args.queries.split(",")]
        # the seed permutes the query order of every pass
        plan["queries"] = qs
        plan["orders"] = [rng.sample(range(len(qs)), len(qs)) for _ in range(200)]
    else:
        plan["vfdb_script"] = os.path.join(input_dir, "vfdb_script.json")
    return plan


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", action="append", default=[],
                    help="make this query throw in every timed rep (self-test)")
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of the workload's queries")
    ap.add_argument("--max-passes", type=int, default=None)
    ap.add_argument("--min-passes", type=int, default=1)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        sys.exit(f"unknown workload {args.workload!r}")
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    input_dir = inputs_for(args.workload, args.seed, spec)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = make_plan(args, spec, input_dir, run_dir, args.inject_fail,
                     args.min_passes, args.max_passes)
    t_h = time.time()
    raw = run_harness(classes, plan, run_dir)
    t_c = time.time()

    if plan["kind"] == "queries":
        checks = oracle.check_queries(input_dir, plan["check_dir"], raw["oracle_sql"],
                                      plan["queries"])
    else:
        checks = metrics.vfdb_checks(raw, input_dir)
    summary = metrics.summarize(raw, checks, trace=bool(args.trace), cores=os.cpu_count(),
                                workload=args.workload)
    print(f"perfbench: harness {t_c - t_h:.1f}s, checks {time.time() - t_c:.1f}s, "
          f"spark start {(raw['spark_ready_ms'] - raw['jvm_start_ms']) / 1e3:.1f}s",
          file=sys.stderr)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": os.cpu_count(), "checks": checks,
              **summary["record"]}
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {"correct": summary["correct"], "attempted": summary["attempted"],
           "failed": summary["failed"],
           "metrics": {m["name"]: {"value": summary["metrics"][m["name"]], "unit": m["unit"]}
                       for m in bench["per_layer" if args.trace else "end_to_end"]}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
