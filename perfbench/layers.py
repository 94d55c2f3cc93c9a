"""Per-layer metrics and spans of a traced run.

Each Spark job is assigned to a repo module by its call site (the first
program frame of the stack that submitted it, see Modules in
perfbench/src/perfbench/Listeners.scala). A job submitted from a thread that
holds no program frame (adaptive-execution, broadcast and subquery threads)
takes the module of the thread that started its SQL execution, or of that
execution's root, or of the next job of the same harness phase that has a
call site, and failing all of these the layer of the phase it ran in. Spans nest pass -> query -> phase -> job -> stage;
spans of one query share a trace id. Self time of a span is its duration
minus the part of it that its children cover.
"""
import json
import os
import statistics
from collections import Counter

PHASE_LAYER = {"construct": "queries", "optimize": "plans", "physical": "plans",
               "execute": "exec", "run": "pipeline.Lake", "pass": "bench"}
# metrics that move cold_pass_s are taken over the cold pass; the rest are
# means over the steady passes
COLD = {"ops.TxLog.job_s", "ops.TxLog.commits", "ops.TxLog.files_written",
        "ops.TxLog.bytes_written", "ops.Scratch.builds", "ops.Scratch.bytes_written",
        "ops.Scratch.job_s"}
UNITS = {"_s": "s", "_bytes": "bytes", "bytes_written": "bytes", "_kb": "KB",
         "busy_cores": "cores"}
MODULE_JOB_S = ["ops.StatsOps", "ops.TxLog", "ops.Scratch", "ops.Sinks", "ops.Conform",
                "pipeline.Pipelines", "pipeline.Lake"]


def _unit(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _ctx(job):
    parts = (job.get("ctx") or "").split("\t")
    return (int(parts[0]), parts[1], parts[2]) if len(parts) == 3 else None


def assign(jobs, passes, execs):
    """Module per job; returns counts of how each was assigned."""
    exec_module = {str(e["id"]): e["module"] for e in execs}
    exec_root = {str(e["id"]): str(e["root"]) for e in execs if e["root"] is not None}
    how = {"call_site": 0, "sql_execution": 0, "root_execution": 0, "next_job": 0,
           "phase": 0, "unassigned": 0}
    for j in jobs:
        c = _ctx(j)
        if c is None:  # outside any phase: place it by time
            p = next((p["pass"] for p in passes
                      if p["start_ms"] <= j["start_ms"] <= p["end_ms"]), None)
            c = (p, "", "pass") if p is not None else None
        j["pass"], j["query"], j["phase"] = c if c else (None, "", "")
        e = j["sql_exec"]
        if j["module"]:
            how["call_site"] += 1
        elif exec_module.get(e):
            j["module"] = exec_module[e]
            how["sql_execution"] += 1
        elif exec_module.get(exec_root.get(e)):
            j["module"] = exec_module[exec_root[e]]
            how["root_execution"] += 1
    # Adaptive execution submits an action's map stages as jobs of their own
    # from a pool thread, before the action's final job, which carries the
    # call site: such a job takes the module of the next job of its phase.
    ordered = sorted(jobs, key=lambda j: j["id"])
    for i, j in enumerate(ordered):
        if j["module"]:
            continue
        key = (j["pass"], j["query"], j["phase"])
        nxt = next((k for k in ordered[i + 1:] if k["module"] and
                    (k["pass"], k["query"], k["phase"]) == key), None)
        if nxt:
            j["module"] = nxt["module"]
            how["next_job"] += 1
        elif j["phase"] in PHASE_LAYER:
            j["module"] = PHASE_LAYER[j["phase"]]
            how["phase"] += 1
        else:
            j["module"] = "unassigned"
            how["unassigned"] += 1
    return how


def _union_ms(intervals, lo, hi):
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _pass_metrics(p, jobs, stages, records, fs, lake_files):
    wall = p["wall_s"]
    pj = [j for j in jobs if j["pass"] == p["pass"]]
    ids = {j["id"] for j in pj}
    ps = [s for s in stages if s["job"] in ids]
    qs = [r for r in records if r["pass"] == p["pass"] and "error" not in r]

    def job_s(pred):
        return sum(max(0, j["end_ms"] - j["start_ms"]) for j in pj if pred(j)) / 1e3

    m = {
        "queries.construct_s": sum(r.get("construct_s", 0) for r in qs),
        "queries.eager_jobs": sum(1 for j in pj if j["phase"] == "construct"),
        "queries.eager_job_s": job_s(lambda j: j["phase"] == "construct"),
        "plans.analysis_s": sum(r.get("analysis_s", 0) for r in qs),
        "plans.optimize_s": sum(r.get("optimize_s", 0) for r in qs),
        "plans.physical_s": sum(r.get("physical_s", 0) for r in qs),
        "driver.only_s": wall - _union_ms([(j["start_ms"], j["end_ms"]) for j in pj],
                                          p["start_ms"], p["end_ms"]) / 1e3,
        "exec.tasks": sum(s["tasks"] for s in ps),
        "exec.stages": len(ps),
        "exec.single_task_stages": sum(1 for s in ps if s["tasks"] == 1),
        "exec.busy_cores": sum(s["run_ms"] for s in ps) / 1e3 / wall,
        "exec.task_s": sum(s["run_ms"] for s in ps) / 1e3,
        "exec.cpu_s": sum(s["cpu_ns"] for s in ps) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in ps) / 1e3,
        "sources.scan_bytes": sum(s["in_bytes"] for s in ps),
        "sources.scan_rows": sum(s["in_rows"] for s in ps),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in ps),
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in ps),
        "exec.shuffle_fetch_wait_s": sum(s["fetch_wait_ms"] for s in ps) / 1e3,
        "exec.spill_bytes": sum(s["spill"] for s in ps),
        "exec.result_bytes": sum(s["result_bytes"] for s in ps),
        "ops.TxLog.commits": fs["txlog_commits"],
        "ops.TxLog.files_written": fs["txlog_files"],
        "ops.TxLog.bytes_written": fs["txlog_bytes"],
        "ops.Scratch.builds": fs["scratch_builds"],
        "ops.Scratch.bytes_written": fs["scratch_bytes"],
        "ops.Sinks.files_written": lake_files["count"],
        "ops.Sinks.mean_file_kb": (lake_files["bytes"] / lake_files["count"] / 1024
                                   if lake_files["count"] else 0.0),
    }
    for mod in MODULE_JOB_S:
        m[f"{mod}.job_s"] = job_s(lambda j, mod=mod: j["module"] == mod)
    return m


def _spans(res, jobs, stages):
    """The run's spans, each with its parent, layer and self time."""
    tr = res["trace"]
    spans = []
    index = {}
    for s in tr["spans"]:
        layer = PHASE_LAYER.get(s["name"], "bench") if s["level"] == "phase" else "bench"
        span = dict(s, layer=layer, trace=f"{s['pass']}/{s['query']}")
        key = (s["level"], s["pass"], s["query"], s["name"] if s["level"] == "phase" else "")
        index[key] = len(spans)
        spans.append(span)
    for i, sp in enumerate(spans):
        if sp["level"] == "query":
            sp["parent"] = index.get(("pass", sp["pass"], "", ""))
        elif sp["level"] == "phase":
            sp["parent"] = index.get(("query", sp["pass"], sp["query"], ""))
        else:
            sp["parent"] = None
    job_span = {}
    for j in jobs:
        parent = index.get(("phase", j["pass"], j["query"], j["phase"]),
                           index.get(("pass", j["pass"], "", "")))
        job_span[j["id"]] = len(spans)
        spans.append({"level": "job", "name": j["call_site"], "pass": j["pass"],
                      "query": j["query"], "trace": f"{j['pass']}/{j['query']}",
                      "layer": j["module"], "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                      "parent": parent, "job": j["id"]})
    for s in stages:
        parent = job_span.get(s["job"])
        j = spans[parent] if parent is not None else {}
        spans.append({"level": "stage", "name": s["name"], "pass": j.get("pass"),
                      "query": j.get("query"), "trace": j.get("trace"), "layer": "exec",
                      "start_ms": s["start_ms"], "end_ms": s["end_ms"], "parent": parent,
                      "tasks": s["tasks"]})
    children = {}
    for i, sp in enumerate(spans):
        sp["id"] = i
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(i)
    for i, sp in enumerate(spans):
        kids = [(spans[k]["start_ms"], spans[k]["end_ms"]) for k in children.get(i, [])]
        sp["self_ms"] = (sp["end_ms"] - sp["start_ms"]) - _union_ms(kids, sp["start_ms"],
                                                                   sp["end_ms"])
    return spans


def analyse(res, results_dir, tag):
    tr = res["trace"]
    passes = res["passes"]
    jobs, stages = tr["jobs"], tr["stages"]
    how = assign(jobs, passes, tr["sql_execs"])
    none = {"count": 0, "bytes": 0}
    per_pass = []
    for p in passes:
        fs = res["fs_cold"] if p["pass"] == 0 else {k: 0 for k in res["fs_cold"]}
        per_pass.append(_pass_metrics(p, jobs, stages, res["queries"], fs,
                                      p.get("files", none)))
    steady = per_pass[1:] or per_pass
    metrics = {}
    for name in per_pass[0]:
        v = per_pass[0][name] if name in COLD else statistics.mean(m[name] for m in steady)
        metrics[name] = (v, _unit(name))

    spans = _spans(res, jobs, stages)
    with open(os.path.join(results_dir, tag + ".spans.jsonl"), "w") as f:
        for sp in spans:
            f.write(json.dumps(sp) + "\n")
    self_by_layer = {}
    for sp in spans:
        if sp["pass"] is None:
            continue
        side = "cold" if sp["pass"] == 0 else "steady"
        d = self_by_layer.setdefault(side, {})
        d[sp["layer"]] = d.get(sp["layer"], 0.0) + sp["self_ms"] / 1e3
    nsteady = max(1, len(passes) - 1)
    summary = {
        "job_assignment": how,
        "jobs_per_module": dict(sorted(Counter(j["module"] for j in jobs).items())),
        "self_s_per_layer": {"cold_pass": self_by_layer.get("cold", {}),
                             "steady_mean_per_pass": {k: v / nsteady for k, v in
                                                      self_by_layer.get("steady", {}).items()}},
        "per_pass": per_pass,
        "sql_actions": len(tr["sql_actions"]),
    }
    return metrics, summary


def overhead(results_dir, workload, traced_pass_s):
    """Traced pass_s minus the median untraced pass_s of this workload's runs so far."""
    base = []
    for f in os.listdir(results_dir):
        if f.startswith(workload + "_seed") and f.endswith("_trace0.json"):
            with open(os.path.join(results_dir, f)) as fh:
                base.append(json.load(fh)["end_to_end"]["pass_s"])
    if not base:
        return None
    return {"traced_pass_s": traced_pass_s, "untraced_pass_s": statistics.median(base),
            "untraced_runs": len(base),
            "overhead_s": traced_pass_s - statistics.median(base)}
