"""Turn the harness's raw per-rep records into the benchmark's metrics.

End-to-end metrics come from untraced passes only. Per-layer metrics
are summed over each traced pass and reported as the median over
traced passes. A rep that failed makes its whole pass unclean: an
unclean pass never enters `pass_s` and its failed reps never enter a
latency percentile, so a crash cannot read as a fast success.
"""
import math
import statistics

# layer of a wall-clock instant inside a rep, innermost first
SELF_LAYERS = ("tasks", "scheduler", "catalyst", "entry", "driver")


def percentile(samples, q):
    """Nearest-rank percentile, or None when fewer than 10 samples lie
    beyond it: a tail value read off fewer points is noise."""
    s = sorted(samples)
    if not s:
        return None
    k = max(1, math.ceil(q / 100.0 * len(s)))
    if q > 50 and len(s) - k < 10:
        return None
    return s[k - 1]


def tail_percentile(samples, qs=(99, 95, 90, 75, 50)):
    """(q, value, n) for the highest percentile in `qs` that has at
    least ten samples beyond it, or None."""
    for q in qs:
        v = percentile(samples, q)
        if v is not None and (q <= 50 or len(samples) - math.ceil(q / 100.0 * len(samples)) >= 10):
            return q, v, len(samples)
    return None


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def _geomean(xs):
    """Geometric mean: each query or op type weighs the same, whatever
    its share of the pass."""
    xs = [x for x in xs if x and x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else float("nan")


def _union_ms(spans, lo, hi):
    """Length of the union of [s, e] spans clipped to [lo, hi]."""
    iv = sorted((max(s, lo), min(e, hi)) for s, e in spans if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _phase_spans(rep, names):
    return [(s, e) for p in rep["plans"] for k, (s, e) in p["phases"].items() if k in names]


def _stage_spans(rep):
    return [(s[2], s[3]) for g in ("build", "exec") for s in rep[g]["stage_spans"]]


def _job_spans(rep):
    return [(j[1], j[2]) for g in ("build", "exec") for j in rep[g]["job_spans"]]


def self_times_ms(rep):
    """Split one traced rep's wall into layer self times: each instant
    goes to the innermost layer active then (a running stage, else a
    running job, else a Catalyst phase, else operator construction
    before the DataFrame is returned, else the Spark driver)."""
    t0, t1, t2 = rep["t0"], rep["t1"], rep["t2"]
    layers = {"tasks": _stage_spans(rep), "scheduler": _job_spans(rep),
              "catalyst": _phase_spans(rep, ("parsing", "analysis", "optimization",
                                             "planning")),
              "entry": [(t0, t1)]}
    cuts = sorted({t0, t2, *(x for sp in layers.values() for s, e in sp for x in (s, e)
                             if t0 < x < t2)})
    out = dict.fromkeys(SELF_LAYERS, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        layer = next((name for name in SELF_LAYERS[:-1]
                      if any(s <= mid <= e for s, e in layers[name])), "driver")
        out[layer] += b - a
    return out


def _rep_layers(rep):
    b, x = rep["build"], rep["exec"]
    both = lambda k: b[k] + x[k]
    wall_ms = rep["t2"] - rep["t0"]
    phase_s = lambda *names: sum(e - s for s, e in _phase_spans(rep, names)) / 1e3
    return {
        "entry.build_s": (rep["t1"] - rep["t0"]) / 1e3,
        "entry.eager_jobs": b["jobs"],
        "driver.analysis_s": phase_s("parsing", "analysis"),
        "driver.optimization_s": phase_s("optimization"),
        "driver.planning_s": phase_s("planning"),
        "sched.jobs": both("jobs"),
        "sched.stages": both("stages"),
        "sched.tasks": both("tasks"),
        "sched.idle_s": (wall_ms - _union_ms(_stage_spans(rep), rep["t0"], rep["t2"])) / 1e3,
        "exec.task_s": both("task_ms") / 1e3,
        "exec.cpu_s": both("cpu_ns") / 1e9,
        "exec.gc_s": both("gc_ms") / 1e3,
        "exec.deser_s": both("deser_ms") / 1e3,
        "exec.spill_bytes": both("spill_bytes"),
        "exec.peak_mem_bytes": both("peak_mem_bytes"),
        "shuffle.write_bytes": both("shuffle_write_bytes"),
        "shuffle.read_bytes": both("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": both("fetch_wait_ms") / 1e3,
        "scan.input_bytes": both("input_bytes"),
        "scan.input_rows": both("input_rows"),
        **{f"self.{k}_s": v / 1e3 for k, v in self_times_ms(rep).items()},
    }


def pass_layers(reps, pass_rec, cores):
    """Per-layer metrics of one traced pass: rep values summed; core
    utilisation against all `cores` over the pass wall; the Views
    registration the harness timed on a fresh session before the pass."""
    wall_s = pass_rec["wall_s"]
    out = {"views.register_s": pass_rec["register_ms"] / 1e3}
    for r in reps:
        for k, v in _rep_layers(r).items():
            out[k] = out.get(k, 0) + v
    n = max(1, len(reps))
    out["exec.core_util"] = out.get("exec.task_s", 0.0) / (wall_s * cores)
    out["ops.jobs_per_op"] = out.get("sched.jobs", 0) / n
    out["ops.plan_s_per_op"] = sum(out.get(k, 0.0) for k in (
        "driver.analysis_s", "driver.optimization_s", "driver.planning_s")) / n
    # level metrics: the most the cache held at the end of any rep,
    # read before the harness cleared it
    out["cache.persisted_after"] = max((r["persisted_after"] for r in reps), default=0)
    out["cache.storage_bytes_after"] = max((r["storage_bytes_after"] for r in reps), default=0)
    return out


def per_type(reps):
    """Facade metrics by op type over traced reps: jobs and Catalyst
    time per op."""
    out = {}
    for t in sorted({r["name"] for r in reps}):
        rs = [r for r in reps if r["name"] == t]
        lay = [_rep_layers(r) for r in rs]
        out[t] = {"ops": len(rs),
                  "jobs_per_op": sum(x["sched.jobs"] for x in lay) / len(rs),
                  "plan_s_per_op": sum(x["driver.analysis_s"] + x["driver.optimization_s"]
                                       + x["driver.planning_s"] for x in lay) / len(rs)}
    return out


def spans(raw, workload):
    """The traced run as a span tree: workload → rep → build / plan /
    execute phases, and jobs (children of the rep through its job group)
    → stages."""
    out = []
    traced = [r for r in raw["reps"] if r["traced"]]
    if not traced:
        return out
    out.append({"id": "w", "parent": None, "kind": "workload", "name": workload,
                "start": traced[0]["t0"], "end": traced[-1]["t2"]})
    for r in traced:
        rid = f"r{r['pass']}.{r['seq']}"
        out.append({"id": rid, "parent": "w", "kind": "rep", "name": r["name"],
                    "start": r["t0"], "end": r["t2"], "ok": r["ok"]})
        out.append({"id": rid + ".b", "parent": rid, "kind": "build", "start": r["t0"],
                    "end": r["t1"]})
        out.append({"id": rid + ".x", "parent": rid, "kind": "execute", "start": r["t1"],
                    "end": r["t2"]})
        for i, p in enumerate(r["plans"]):
            for k, (s, e) in p["phases"].items():
                out.append({"id": f"{rid}.p{i}.{k}", "kind": "plan", "name": k,
                            "parent": rid + (".b" if p["in_build"] else ".x"),
                            "start": s, "end": e})
        for g in ("build", "exec"):
            for j in r[g]["job_spans"]:
                out.append({"id": f"j{j[0]}", "parent": rid, "kind": "job",
                            "group": f"pb.{r['pass']}.{r['seq']}.{g[0]}",
                            "start": j[1], "end": j[2]})
            for st in r[g]["stage_spans"]:
                out.append({"id": f"s{st[0]}", "parent": f"j{st[1]}", "kind": "stage",
                            "start": st[2], "end": st[3]})
    return out


def vfdb_checks(raw, input_dir):
    import json
    import os
    with open(os.path.join(input_dir, "vfdb_script.json")) as f:
        script = json.load(f)
    v = raw.get("vfdb", {})
    expected = script["expect_after"][len(raw["passes"])]
    got = v.get("stats", {})
    return [{"name": "verify_hash", "ok": bool(v.get("hash_ok")),
             "detail": v.get("error")},
            {"name": "stats", "ok": all(got.get(k) == x for k, x in expected.items()),
             "expected": expected, "got": got}]


def trace_overhead_s(raw, pass_s):
    """Traced minus untraced wall of equivalent work: for a facade run
    the read-only probe rounds at the final store (each facade pass meets
    a different store, so passes do not compare), else the clean traced
    passes against `pass_s` of the same run's untraced ones."""
    probe = raw.get("overhead_probe")
    if probe:
        side = lambda t: _median([r["wall_s"] for r in probe if r["ok"] and r["traced"] == t],
                                 float("nan"))
        return side(True) - side(False)
    return _median([p["wall_s"] for p in raw["passes"] if p["traced"] and p["ok"]],
                   float("nan")) - pass_s


def summarize(raw, checks, trace, cores, workload=""):
    passes, reps = raw["passes"], raw["reps"]
    probe = raw.get("overhead_probe", [])
    plain = [p for p in passes if not p["traced"]]
    clean = [p for p in plain if p["ok"]]
    clean_ids = {p["pass"] for p in clean}
    ok_reps = [r for r in reps if not r["traced"] and r["pass"] in clean_ids]
    failed = (sum(1 for r in reps if not r["ok"]) + sum(1 for w in raw["warm"] if w["error"])
              + sum(1 for c in checks if not c["ok"]) + sum(1 for r in probe if not r["ok"]))
    attempted = len(reps) + len(raw["warm"]) + len(checks) + len(probe)
    m = {
        "setup_s": (raw["ready_ms"] - raw["jvm_start_ms"]) / 1e3,
        "pass_s": _median([p["wall_s"] for p in clean], default=float("nan")),
        "pass_cpu_s": _median([p["cpu_s"] for p in clean], default=float("nan")),
        "op_geomean_ms": _geomean([_median([r["t2"] - r["t0"] for r in ok_reps if r["name"] == t])
                                   for t in sorted({r["name"] for r in ok_reps})]),
        "ops_per_s": len(ok_reps) / sum(p["wall_s"] for p in clean) if clean else float("nan"),
        "error_rate": failed / max(1, attempted),
    }
    latency = {}
    for kind in ("all", "read", "write"):
        xs = [r["t2"] - r["t0"] for r in ok_reps if kind in ("all", r["rw"])]
        latency[kind] = {"samples": len(xs), "p50_ms": percentile(xs, 50),
                         "p95_ms": percentile(xs, 95), "tail": tail_percentile(xs)}
    record = {"metrics": m, "latency_ms": latency,
              "warm": raw["warm"], "passes": passes,
              "per_query": {}}
    for r in reps:
        q = record["per_query"].setdefault(r["name"], {"walls_ms": [], "persisted_after": [],
                                                       "failed": 0})
        q["walls_ms"].append(round(r["t2"] - r["t0"], 3))
        q["persisted_after"].append(r["persisted_after"])
        q["failed"] += 0 if r["ok"] else 1
    if trace:
        traced_passes = [p for p in passes if p["traced"]]
        per_pass = [pass_layers([r for r in reps if r["pass"] == p["pass"]], p, cores)
                    for p in traced_passes]
        layer = {k: _median([pp[k] for pp in per_pass]) for k in per_pass[0]} if per_pass else {}
        layer.update({f"kernel.{k}": v for k, v in raw.get("kernels", {}).items()})
        layer["trace.overhead_s"] = trace_overhead_s(raw, m["pass_s"])
        m.update(layer)
        traced_reps = [r for r in reps if r["traced"]]
        record["per_type"] = per_type(traced_reps)
        record["per_rep"] = [{"name": r["name"], "pass": r["pass"], "seq": r["seq"],
                              "ok": r["ok"], "wall_ms": r["t2"] - r["t0"], **_rep_layers(r)}
                             for r in traced_reps]
        record["spans"] = spans(raw, workload)
    # a run is correct when nothing failed and a timed pass ran clean (a
    # traced facade run traces every pass, so its clean passes are traced)
    correct = failed == 0 and any(p["ok"] for p in passes)
    # a value that could not be measured (no clean pass) is null, never 0
    m = {k: None if isinstance(v, float) and math.isnan(v) else v for k, v in m.items()}
    record["metrics"] = m
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": m, "record": record}
