#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from
source on first use (perfbench/build.py), prepares the workload's inputs,
runs the workload closed-loop from one client on local[nproc] in a fresh JVM
(perfbench/src/perfbench/Harness.scala), checks every result, and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Full
detail (environment, inputs, per-query table, spans) goes to
.bench_build/perfbench/results/. Workloads and metrics: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing under perfbench/
import build  # noqa: E402
import lake  # noqa: E402
import layers  # noqa: E402

# Each workload: the checked-in dataset its queries read (lake_build generates
# its own inputs from the seed), its queries, and the least number of steady
# passes a run makes. README.md says why each was chosen.
WORKLOADS = {
    "query_mix": {
        "dataset": "sf0.01", "min_passes": 4,
        "queries": [
            # the eager StatsOps percentile engine, a scratch artifact
            "agg_percentile", "stats_runs_test",
            # txlog: fixture commits on the cold pass, time-travel and snapshot
            # reads after
            "lake_txlog_time_travel", "lake_txlog_snapshot",
            # shuffle-heavy Catalyst SQL
            "tpch_q21"]},
    "lake_build": {"dataset": None, "min_passes": 1},
}
RUN_DEADLINE_S = 170  # a run must end within 180 s of the build
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def driver_heap():
    """-Xmx the way the repository's bench command sets SPARK_DRIVER_MEM for
    graft.Bench: half of physical memory (MemTotal), clamped to 2-8 GiB."""
    try:
        gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    except (ValueError, OSError):
        return "2g"
    return f"{min(8, max(2, gib // 2))}g"


HEAP = driver_heap()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_harness(tmpdir, harness_args, errlog, deadline):
    """Runs the harness JVM to its end; returns seconds from spawn to a ready session."""
    os.makedirs(tmpdir)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write perf counters to the
    # system temp directory, outside the checkout
    cmd = (["java"] + opens +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Harness"] + harness_args)
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errlog, text=True)
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    timer.start()
    setup = None
    try:
        for line in proc.stdout:
            if setup is None and line.strip() == "PERFBENCH READY":
                setup = time.perf_counter() - t0
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or setup is None:
        raise RuntimeError(f"harness exited with code {rc}"
                           + (" at the run deadline" if time.monotonic() >= deadline else ""))
    return setup


def median(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else median(xs)


def check_queries(records, dataset):
    with open(os.path.join(HERE, "expected", f"{dataset}.json")) as f:
        expected = json.load(f)
    bad = []
    for r in records:
        want = expected.get(r["query"])
        got = None if "error" in r else {"rows": r["rows"], "digest": r["digest"]}
        if got is None or got != want:
            bad.append({"pass": r["pass"], "query": r["query"], "got": got or r.get("error"),
                        "want": want})
    return bad


def per_query_table(records):
    """Steady median, cold time and the phase split, per query."""
    table = {}
    for q in sorted({r["query"] for r in records}):
        rs = [r for r in records if r["query"] == q and "error" not in r]
        steady = [r for r in rs if r["pass"] > 0]
        cold = [r for r in rs if r["pass"] == 0]
        row = {"cold_s": cold[0]["total_s"] if cold else None,
               "steady_median_s": median([r["total_s"] for r in steady]),
               "steady_samples": len(steady)}
        for k in ("construct_s", "analysis_s", "optimize_s", "physical_s", "execute_s"):
            if steady and k in steady[0]:
                row[k] = median([r[k] for r in steady])
        table[q] = row
    return table


def end_to_end(res, setup, inputs, failed, attempted):
    passes = res["passes"]
    pass_s = median([p["wall_s"] for p in passes[1:]])
    # lake_build: lake parquet bytes a steady pass writes. query_mix writes no
    # lake; its stand-in is the bytes its tasks write (shuffle and output files).
    written = [p["files"]["bytes"] if "files" in p else p["written_bytes"] for p in passes[1:]]
    lat = {p["pass"]: [r["total_s"] for r in res["queries"]
                       if r["pass"] == p["pass"] and "error" not in r] for p in passes[1:]}
    lat = {p: xs for p, xs in lat.items() if xs}
    # latency quantiles across the queries' steady medians: with about 20
    # samples a run, the p90 of the samples is one stalled sample on a shared
    # host, while a query's median moves only if stalls hit half its samples
    steady = [r for r in res["queries"] if r["pass"] > 0 and "error" not in r]
    by_query = [median([r["total_s"] for r in steady if r["query"] == q])
                for q in sorted({r["query"] for r in steady})]
    return {
        "setup_s": (setup, "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (pass_s, "s"),
        "query_p50_s": (median(by_query), "s"),
        "query_p90_s": (p90(by_query), "s"),
        "rows_per_s": (inputs["rows"] / pass_s, "rows/s"),
        "write_amp": (median(written) / inputs["bytes"], "ratio"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "ok_frac": ((attempted - failed) / attempted, "ratio"),
    }, lat


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()  # the first run in a checkout compiles; the deadline starts after
    deadline = time.monotonic() + RUN_DEADLINE_S
    base = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    work = os.path.join(base, "work", f"{tag}_{os.getpid()}")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    os.makedirs(work)
    cores = os.cpu_count() or 1
    wl = WORKLOADS[a.workload]
    dataset = wl["dataset"]
    ok = False
    try:
        if dataset:
            data_dir = os.path.join(HERE, "data", dataset)
            inputs = lake.parquet_inputs(data_dir)
            extra = ["--data", data_dir, "--queries", ",".join(wl["queries"])]
        else:
            lake_in = os.path.join(work, "lake_in")
            inputs = lake.generate(lake_in, a.seed, max(8, cores))
            extra = ["--lake-in", lake_in, "--lake-out", os.path.join(work, "lake_out")]
        out = os.path.join(work, "harness.json")
        with open(os.path.join(work, "harness.log"), "w") as errlog:
            setup = run_harness(
                os.path.join(work, "tmp"),
                ["--cores", str(cores), "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--min-passes", str(wl["min_passes"]),
                 "--out", out] + extra, errlog, deadline)
        with open(out) as f:
            res = json.load(f)

        if dataset:
            bad = check_queries(res["queries"], dataset)
            attempted = len(res["queries"])
        else:
            bad = lake.check(res, lake_in)
            attempted = len(res["passes"])
        failed = len({(b["pass"], b.get("query")) for b in bad})
        e2e, latencies = end_to_end(res, setup, inputs, failed, attempted)

        detail = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "env": dict(res["env"], nproc=cores, heap=f"-Xmx{HEAP}"),
            "inputs": inputs,
            "latency_samples": sum(len(xs) for xs in latencies.values()),
            "latency_s_by_pass": latencies,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "passes": res["passes"],
            "per_query": per_query_table(res["queries"]),
            "artifacts": {"cold_pass": res["fs_cold"], "end": res["fs_end"]},
            "failures": bad,
        }
        if a.trace:
            metrics, detail["layers"] = layers.analyse(res, results_dir, tag)
            detail["tracing_overhead_s"] = layers.overhead(results_dir, a.workload,
                                                           e2e["pass_s"][0])
        else:
            metrics = e2e
        detail["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        with open(os.path.join(results_dir, tag + ".json"), "w") as f:
            json.dump(detail, f, indent=1)
        for b in bad[:10]:
            log(f"wrong result: {b}")
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                          "metrics": detail["metrics"]}))
        ok = True
    finally:
        # a failed run keeps its harness log; everything else of the run goes
        for d in os.listdir(work):
            if ok or d != "harness.log":
                p = os.path.join(work, d)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        if ok:
            os.rmdir(work)


if __name__ == "__main__":
    # on SIGTERM, unwind so the harness JVM is stopped and the run cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        log(f"failed: {e}")
        sys.exit(1)
