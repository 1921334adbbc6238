#!/usr/bin/env python3
"""Benchmark of the graft engine: closed-loop workloads, one client each.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into ``.bench_build/``); later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
``--seed``, sets up, warms up, measures for ``--seconds``, checks the
engine's outputs, and prints one JSON object as the last line of standard
output: end-to-end metrics with ``--trace 0``, per-layer metrics from a
separately traced run with ``--trace 1``. The line before it is the full
report (environment block, every op, failure records, the named workload
metrics); the same report is kept under ``.bench_build/results/``.

``--workload all`` runs every workload in turn and prints a table of the
named metrics. ``perfbench/README.md`` explains the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

RUN_LIMIT_S = 175          # the whole run, build excluded
BUILD_LIMIT_S = 850

# Input sizes per workload (see README.md for why).
SCALE = {"bi_dashboard": 0.01, "graph_analytics": 0.003, "graph_closure": 0.01}
INGEST = {"preload": 500, "batch": 50, "replays": 2}
# C1 only: a run is too short for C2 to pay for the cores it compiles on
# (README.md, Budget). C1-only JVMs default to a 48 MB code cache, which
# the engine's generated code fills ("CodeCache is full", then tasks die in
# method-handle linkage), so it gets the tiered default of 240 MB.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
WORKLOADS = ["bi_dashboard", "graph_analytics", "graph_closure", "warehouse_ingest"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# The call-site files whose jobs a traced run reports as per-layer metrics:
# those the workloads in BENCHMARK.json start jobs from (Main.scala is the
# harness's own fetch). Every file's figures, for every workload, are in the
# report.
SITES = ["Warehouse.scala", "StreamingWarehouse.scala", "Ranking.scala", "Graph.scala",
         "Main.scala", "other"]


class Failure(Exception):
    """The run cannot produce a result (no sources, build or harness error)."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- environment ------------------------------------------------------------

def nproc():
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        return int(subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                                  check=True).stdout.strip())
    except (OSError, subprocess.CalledProcessError, ValueError):
        return len(os.sched_getaffinity(0))


def heap_gb():
    """Half the host's memory in GiB, clamped to [2, 8]: the heap the
    repository's own test suite runs with."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def cpu_snapshot():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return sum(v[:8]), (v[7] if len(v) > 7 else 0), load


def run_group(cmd, log_path, timeout, **kw):
    """Run ``cmd`` in a process group of its own with its output in
    ``log_path``; its exit code, or None after killing the whole group when
    ``timeout`` seconds pass. The group is also killed when this process is
    interrupted or terminated, so nothing it started outlives it."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


# ---- build ------------------------------------------------------------------

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, "tools", "oracle_check.py"), os.path.join(HERE, "build.sbt")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        raise Failure(f"not a checkout of the engine: missing {', '.join(missing)}")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    log_path = os.path.join(BUILD, "sbt.log")
    try:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], log_path, BUILD_LIMIT_S, cwd=HERE)
    except OSError as e:
        raise Failure(f"cannot run sbt: {e}")
    with open(log_path, errors="replace") as f:
        out = f.read()
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        raise Failure(f"sbt build failed (exit {code}):\n" + out[-3000:])
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---- one workload run -------------------------------------------------------

def make_inputs(workload, seed, seconds, data_dir):
    """Generate the workload's inputs; returns what the checks need."""
    os.makedirs(data_dir)
    if workload in SCALE:
        gen.write_star_schema(seed, SCALE[workload], data_dir)
        return {}
    n_batches = 4 + int(seconds * 2)
    papers = gen.staged_papers(seed, INGEST["preload"] + n_batches * INGEST["batch"])
    pre, rest = papers[:INGEST["preload"]], papers[INGEST["preload"]:]
    gen.write_papers(pre, os.path.join(data_dir, "preload.parquet"))
    batches = gen.batches_with_replays(seed, rest, INGEST["batch"], INGEST["replays"], seen=pre)
    os.makedirs(os.path.join(data_dir, "batches"))
    files = {}
    for i, b in enumerate(batches):
        name = f"batch_{i:05d}.parquet"
        gen.write_papers(b, os.path.join(data_dir, "batches", name))
        files[name] = b
    return {"preload": pre, "batches": files, "batch_dir": os.path.join(data_dir, "batches")}


def run_jvm(classpath, workload, seed, seconds, trace, cores, run_dir, data_dir, deadline):
    out = os.path.join(run_dir, "report.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", *JIT_FLAGS, *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
           "-cp", classpath, "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--cores", str(cores), "--data", data_dir,
           "--work", os.path.join(run_dir, "work"), "--out", out]
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    log_path = os.path.join(run_dir, "jvm.log")
    code = run_group(cmd, log_path, deadline - time.time(), cwd=run_dir, env=env)
    if code is None:
        raise Failure(f"{workload} did not finish within the run limit")
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise Failure(f"{workload} harness exited with code {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def timed_ops(report, traced=False):
    return [o for o in report["ops"] if o["pass"] >= 0 and o["traced"] == traced]


def op_walls(report, name):
    return [o["wall_s"] for o in timed_ops(report) if o["op"] == name]


def end_to_end(workload, report, inputs):
    """The end-to-end metrics of an untraced run, and the named ones."""
    passes = [p["wall_s"] for p in report["passes"] if not p["traced"]]
    m = {"setup_s": statistics.median(report["setup_s"]),
         "pass_s": statistics.median(passes)}
    named = {"setup_s": m["setup_s"], "heap_peak_mb": report["heap_peak_mb"],
             "heap_live_mb": report["heap_live_mb"], "passes_n": len(passes)}
    if workload == "bi_dashboard":
        lat = [o["wall_s"] for o in timed_ops(report)]
        s = stats.summary(lat)
        named.update({"bi.pass_s": m["pass_s"], "bi.query_median_s": s["median"],
                      "bi.query_p50_s": s.get("p50"), "bi.query_p90_s": s.get("p90"),
                      "bi.query_n": s["n"]})
    elif workload == "graph_analytics":
        named.update({"graph.pass_s": m["pass_s"],
                      "graph.pagerank_s": statistics.median(op_walls(report, "g_pagerank_parts")),
                      "graph.louvain_s": statistics.median(op_walls(report, "g_louvain")),
                      "graph.jaccard_s": statistics.median(op_walls(report, "g_jaccard_parts"))})
    elif workload == "graph_closure":
        named.update({"graph.articlerank_s": m["pass_s"]})
    else:
        extra = report["extra"]
        seen = {p["id"] for p in inputs["preload"]}
        fresh = 0
        for f in extra["batch_files"]:
            new = {p["id"] for p in inputs["batches"][f]} - seen
            seen |= new
            fresh += len(new)
        s = stats.summary(extra["batch_trigger_s"])
        named.update({"ingest.papers_per_s": fresh / sum(passes),
                      "ingest.batch_median_s": s["median"], "ingest.batch_p50_s": s.get("p50"),
                      "ingest.batch_n": s["n"],
                      "ingest.space_amp": extra["live_warehouse_bytes"] / inputs["staged_bytes"]})
    return m, named


def per_layer(workload, report, inputs):
    """Per-layer metrics of a traced run, per traced pass."""
    traced = timed_ops(report, traced=True)
    n_pass = max(1, sum(1 for p in report["passes"] if p["traced"]))
    tot = lambda k: sum(o.get(k, 0) for o in traced)  # noqa: E731
    wall = sum(p["wall_s"] for p in report["passes"] if p["traced"])
    cores = report["env"]["nproc"]
    m = {
        "queries.build_s": tot("build_s") / n_pass,
        "exec.materialize_s": tot("materialize_s") / n_pass,
        "spark.plan.analysis_s": tot("analysis_ms") / 1e3 / n_pass,
        "spark.plan.optimizer_s": tot("optimizer_ms") / 1e3 / n_pass,
        "spark.plan.physical_s": tot("physical_ms") / 1e3 / n_pass,
        "spark.plan.nodes": tot("plan_nodes") / n_pass,
        "sched.jobs": tot("jobs") / n_pass,
        "sched.stages": tot("stages") / n_pass,
        "sched.tasks": tot("tasks") / n_pass,
        "sched.core_util": tot("executor_run_ms") / 1e3 / (wall * cores) if wall else 0.0,
        "shuffle.write_bytes": tot("shuffle_write_bytes") / n_pass,
        "shuffle.read_bytes": tot("shuffle_read_bytes") / n_pass,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3 / n_pass,
        "plans.pins_n": tot("pins") / n_pass,
        "plans.pin_bytes": tot("pin_bytes") / n_pass,
        "aqe.replans": tot("aqe_replans") / n_pass,
        "aqe.broadcast_joins": tot("broadcast_joins") / n_pass,
        "mem.spill_bytes": tot("spill_bytes") / n_pass,
        "exec.task_gc_s": tot("task_gc_ms") / 1e3 / n_pass,
        "driver.gc_s": tot("driver_gc_ms") / 1e3 / n_pass,
        "io.input_bytes": tot("input_bytes") / n_pass,
        "pipeline.files_written": tot("write_tasks") / n_pass,
        "mem.heap_peak_mb": report["heap_peak_mb"],
        "mem.heap_live_mb": report["heap_live_mb"],
    }
    staged = 0
    if workload == "warehouse_ingest":  # timed pass p streams batch file p
        files = report["extra"]["batch_files"]
        staged = sum(os.path.getsize(os.path.join(inputs["batch_dir"], files[o["pass"]]))
                     for o in traced)
    m["pipeline.write_amp"] = tot("output_bytes") / staged if staged else 0.0
    for site in SITES:
        m[f"site.{site}.jobs"] = sum(o.get("site_jobs", {}).get(site, 0) for o in traced) / n_pass
        m[f"site.{site}.exec_s"] = sum(o.get("site_exec_ms", {}).get(site, 0) for o in traced) / 1e3 / n_pass
    on = [p["wall_s"] for p in report["passes"] if p["traced"]]
    off = [p["wall_s"] for p in report["passes"] if not p["traced"]]
    m["trace.overhead_pct"] = (100.0 * (statistics.median(on) / statistics.median(off) - 1)
                               if on and off else 0.0)
    return m


UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_pct": "%"}


def unit(name):
    if name == "sched.core_util" or name.endswith(("_amp", "_rate")):
        return "ratio"
    if name.endswith("papers_per_s"):
        return "1/s"
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


def run_workload(workload, seed, seconds, trace, classpath, cores):
    import checks  # reuses the checkout's tools/oracle_check.py, which build() requires
    t_start = time.time()
    tag = f"{workload}_s{seed}_t{int(trace)}_{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        inputs = make_inputs(workload, seed, seconds, data_dir)
        tot0, steal0, load0 = cpu_snapshot()
        report = run_jvm(classpath, workload, seed, seconds, trace, cores, run_dir, data_dir,
                         t_start + RUN_LIMIT_S - 20)
        tot1, steal1, load1 = cpu_snapshot()
        report["env"].update({"host_loadavg_before": load0, "host_loadavg_after": load1,
                              "host_cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
                              "heap_max": f"{heap_gb()}g"})
        t_check = time.time()
        attempted = sum(1 for o in report["ops"])
        failures = [o["error"] for o in report["ops"] if o["error"]]
        check_failures = []
        if workload == "warehouse_ingest":
            files = report["extra"]["batch_files"]
            committed = inputs["preload"] + [p for f in files for p in inputs["batches"][f]]
            problems = checks.ingest_check(report["extra"]["check_dir"], committed,
                                           gen.hg_reference(committed), cores)
            check_failures = [{"workload": workload, "op": "warehouse_invariants",
                               "class": "OutputCheck", "message": p} for p in problems]
            inputs["staged_bytes"] = sum(os.path.getsize(os.path.join(data_dir, f)) for f in
                                         ["preload.parquet"] + [f"batches/{f}" for f in files])
            attempted += 1
        else:
            ops = sorted({o["op"] for o in report["ops"]})
            res = checks.oracle_check(data_dir, report["extra"]["results_dir"],
                                      report["extra"]["oracle_sql"], ops, cores)
            check_failures = [{"workload": workload, "op": op, "class": "OutputCheck",
                               "message": why} for op, why in sorted(res.items()) if why]
        check_s = time.time() - t_check
        # a failed check fails every execution of that op
        bad_ops = {c["op"] for c in check_failures}
        failed = sum(1 for o in report["ops"] if o["error"] or o["op"] in bad_ops)
        if workload == "warehouse_ingest" and check_failures:
            failed += 1
        if trace:
            metrics = per_layer(workload, report, inputs)
            named = {}
        else:
            metrics, named = end_to_end(workload, report, inputs)
        named["error_rate"] = failed / attempted if attempted else 1.0
        full = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
                "env": report["env"], "setup_s": report["setup_s"], "passes": report["passes"],
                "named_metrics": named, "failures": failures + check_failures,
                "ops": report["ops"], "spans": report["spans"],
                "warmup_s": report["extra"].get("warmup_s"), "check_s": check_s,
                "run_wall_s": time.time() - t_start}
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
            json.dump(full, f)
        if failures or check_failures:  # keep the JVM's log, with its stack traces
            shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(BUILD, "results", tag + ".jvm.log"))
        result = {"correct": not check_failures and not failures,
                  "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}
        summary = {k: full[k] for k in ("workload", "seed", "env", "setup_s", "named_metrics",
                                          "failures", "warmup_s", "check_s", "run_wall_s")}
        return result, summary
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (the `finally` in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath = build()
        cores = nproc()
        names = WORKLOADS if args.workload == "all" else [args.workload]
        outs = [run_workload(w, args.seed, args.seconds, bool(args.trace), classpath, cores)
                for w in names]
    except Failure as e:
        log(str(e))
        sys.exit(2)
    if args.workload == "all":
        for (_, summary) in outs:
            for k, v in summary["named_metrics"].items():
                if not isinstance(v, dict):
                    print(f"{summary['workload']:18s} {k:24s} {v!s:>24s} {unit(k)}")
        result = {"correct": all(r["correct"] for r, _ in outs),
                  "attempted": sum(r["attempted"] for r, _ in outs),
                  "failed": sum(r["failed"] for r, _ in outs),
                  "metrics": {f"{s['workload']}.{k}": v for r, s in outs
                              for k, v in r["metrics"].items()}}
    else:
        result, summary = outs[0]
        print(json.dumps(summary))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
