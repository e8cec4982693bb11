#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, end-to-end or traced.

    python3 perfbench/run.py --workload ifcb-ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark JVM program from this checkout's sources
(once; later runs reuse the build while the sources are unchanged),
generates the workload's inputs from the seed, runs the benchmark JVM
(`local[nproc]`, one closed-loop client), checks every output and prints
context lines, then one JSON result line as the last line of stdout.
Exits non-zero if any output check fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")
CDS_ARCHIVE = os.path.join(HERE, "target", "perfbench-classes.jsa")

WORKLOADS = ["ifcb-ingest", "ifcb-delivery", "corpus-prep"]
INGEST_DAYS = 2
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10
# The benchmark JVM is killed past set-up + --seconds + its passes: the
# capture pass of set-up, the minimum number of timed passes (two; three
# when traced: untraced, traced, untraced) and one more that --seconds
# may start, each allowed about twice its usual length on 4 cores.
SETUP_ALLOWANCE_S = 50
PASS_ALLOWANCE_S = {"ifcb-ingest": 40, "ifcb-delivery": 18, "corpus-prep": 24}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# End-to-end metrics (BENCHMARK.json `end_to_end`), with their units.
# step_tail_s is printed too, as context: it is only defined once a run
# holds at least 20 step samples (one with 10 beyond the median), and a
# run of either registered workload holds 8 or 9.
E2E_UNITS = {"setup_s": "s", "run_s": "s", "step_p50_s": "s",
             "throughput_per_s": "units/s", "success_rate": "ratio",
             "retained_heap_mb": "MB"}

# Per-layer metrics of the traced run that BENCHMARK.json lists: those every
# registered workload exercises, plus counters. Layer times that only one
# registered workload exercises (jobs.sink_s, the per-step seconds) and
# the ingest layers would read a constant 0 on the other workload; the
# JVM computes them all and they are printed as context lines.
STEP_QUERIES = ["q37", "q40", "q73", "q88", "q90", "q96", "q97",
                "q95", "q42", "q75", "q91", "q99", "q101", "q103"]
PER_LAYER = (["sources.bytes_read",
              "jobs.bytes_written", "jobs.rows_written", "jobs.spark_jobs",
              "queries.plan_s", "queries.spark_jobs", "queries.stages", "queries.tasks",
              "queries.core_util", "queries.shuffle_bytes", "queries.spill_bytes",
              "queries.broadcast_bytes", "queries.task_skew", "queries.gc_s",
              "queries.failed_tasks", "queries.codegen_compiles"]
             + [f"queries.{q}.stages" for q in STEP_QUERIES])


def log(msg):
    print(msg, flush=True)


# ---- statistics -------------------------------------------------------------

def tail_percentile(samples, ladder=TAIL_LADDER, min_beyond=MIN_BEYOND):
    """(percentile, value, samples beyond it) for the highest percentile of
    `ladder` that leaves at least `min_beyond` samples above its
    nearest-rank position; the median when no ladder rung qualifies."""
    s = sorted(samples)
    n = len(s)
    pick = None
    for p in ladder:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= min_beyond:
            pick = (p, s[k - 1], n - k)
    if pick is None:
        k = max(1, math.ceil(n / 2))
        pick = (50, s[k - 1], n - k)
    return pick


def error_accounting(steps_attempted, steps_thrown, failed_checks, runs_per_step):
    """(attempted, failed): a step that threw counts once; a step whose
    output failed its check counts once for every time it ran."""
    failed = steps_thrown + sum(runs_per_step.get(name, 0) for name in failed_checks)
    return steps_attempted, min(failed, steps_attempted)


# ---- host context -------------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]  # total jiffies, steal


def calib_ms():
    """Fixed single-threaded integer loop, timed: host speed context."""
    t = time.perf_counter()
    x = 1
    for _ in range(1_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1000


# ---- build ----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("perfbench: no SPARK_HOME and no spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Runtime classpath of the engine + benchmark, building when stale."""
    stamp = source_stamp()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            b = json.load(f)
        if b.get("stamp") == stamp:
            return b["classpath"]
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    t = time.time()
    env = dict(os.environ, SPARK_HOME=spark_home())
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"# build: {time.time() - t:.1f} s")
    return cp


# ---- run ------------------------------------------------------------------

def jvm_timeout(workload, seconds, trace):
    min_passes = 3 if trace else 2
    return SETUP_ALLOWANCE_S + seconds + (min_passes + 2) * PASS_ALLOWANCE_S[workload]


def cds_flags():
    """(JVM flags, dumping) for the class-data-sharing archive of this
    build (build.sbt exports the classes as jars, which the archive
    needs). The first benchmark JVM after a build writes the archive of
    every class it loaded when it exits; later ones map it instead of
    loading and verifying Spark's classes again, about 4 s of every
    later set-up on 4 cores. A new build deletes the archive."""
    if os.path.exists(CDS_ARCHIVE):
        return [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"], False
    return [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"], True


def run_jvm(cp, workload, inputs, work, seconds, trace, cores):
    """(result, oracle futures or None). The JVM renders the oracle SQL at
    the start of its checks, after the timed passes; the DuckDB oracles
    start as soon as that file appears, so they never overlap a timed
    region."""
    import oracle
    result = os.path.join(work, "result.json")
    sql_path = os.path.join(work, "results", "oracle_sql.json")
    futures = None
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds, dumping = cds_flags()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + cds + ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.callstack.depth=40", "-cp", cp, "perfbench.Main",
              workload, inputs, work, str(seconds), str(trace), str(cores), result])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        deadline = time.time() + jvm_timeout(workload, seconds, trace)
        while True:
            rc = proc.poll()
            if futures is None and os.path.exists(sql_path):
                with open(sql_path) as f:
                    futures = oracle.start(inputs, json.load(f))
            if rc is not None:
                break
            if time.time() > deadline:
                proc.kill()
                proc.wait()
                rc = "timeout"
                break
            time.sleep(0.5)
    if dumping and rc not in (0, "timeout") and os.path.exists(result):
        # the run completed; only writing the archive failed
        log("# class-data archive not written; later runs load classes from the jars")
        if os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
        rc = 0
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    with open(result) as f:
        return json.load(f), futures


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
                 "run from a checkout of the repository")

    import gen  # noqa: E402  (numpy/pyarrow only needed past the guard)
    import oracle

    cp = build()
    cores = os.cpu_count() or 1
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t = time.time()
    if a.workload == "ifcb-ingest":
        gen.ifcb_days(a.seed, inputs, INGEST_DAYS)
    else:
        counts = gen.tables(a.seed, inputs)
        with open(os.path.join(inputs, "counts.json"), "w") as f:
            json.dump(counts, f)
    gen_s = time.time() - t

    calib0 = calib_ms()
    tot0, steal0 = cpu_times()
    t_jvm = time.time()
    r, oracles = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, cores)
    tot1, steal1 = cpu_times()
    log(f"# benchmark JVM: {time.time() - t_jvm:.1f} s")
    calib1 = calib_ms()

    checks = [(c["name"], c["ok"], c["detail"]) for c in r["checks"]]
    oracle_s = 0.0
    if a.workload != "ifcb-ingest":
        t = time.time()
        if oracles is not None:
            checks += oracle.compare_results(oracles, os.path.join(work, "results"))
        oracle_s = time.time() - t
        names = {s["name"] for p in r["passes"] for s in p["steps"]}
        checked = {c[0] for c in checks}
        checks += [(n, False, "no output check") for n in sorted(names - checked)]

    timed = [p for p in r["passes"] if not p["traced"]] or r["passes"]
    steps = [s["s"] for p in timed for s in p["steps"]]
    runs_per_step = {}
    for s in r["passes"][0]["steps"]:
        runs_per_step[s["name"]] = runs_per_step.get(s["name"], 0) + len(r["passes"])
    failed_checks = [n for n, ok, _ in checks if not ok]
    if a.workload == "ifcb-ingest" and failed_checks:
        # the state after the last pass is wrong: every step of a pass failed
        failed_checks = list(runs_per_step)
    attempted, failed = error_accounting(r["attempted"], r["failed"], failed_checks, runs_per_step)
    run_s = statistics.median(p["s"] for p in timed)
    tail_p, tail_v, beyond = tail_percentile(steps)

    e2e = {"setup_s": r["setup_s"], "run_s": run_s,
           "step_p50_s": statistics.median(steps),
           "throughput_per_s": r["units_per_pass"] / run_s,
           "success_rate": 1.0 - failed / attempted,
           "retained_heap_mb": r["retained_heap_mb"]}

    for n, ok, d in checks:
        log(f"# check {'PASS' if ok else 'FAIL'} {n}: {d}")
    for f in r["failures"]:
        log(f"# step failure: {f}")
    if r["pinned_rdds"]:
        log(f"# persisted after a step: up to {r['pinned_rdds']} RDDs, "
            f"{r['pinned_rdds_mb']:.1f} MB ({r['pinned_rdds_step']})")
    steal = 100.0 * (steal1 - steal0) / max(tot1 - tot0, 1)
    log(f"# host: cores={cores} steal_pct={steal:.2f} calib_ms_before={calib0:.1f} "
        f"calib_ms_after={calib1:.1f}")
    log(f"# phases: set-up {r['setup_s']:.1f} s (capture pass {r['capture_phase_s']:.1f} s of it), "
        f"timed passes {r['timed_phase_s']:.1f} s, JVM checks {r['checks_phase_s']:.1f} s, "
        f"oracle compare after the JVM {oracle_s:.1f} s")
    log(f"# codegen: {r['codegen_compiled_setup']} classes compiled in set-up, "
        f"{r['codegen_compiled_timed']} during the timed passes")
    log(f"# inputs: seed={a.seed} generated in {gen_s:.2f} s (not in setup_s); "
        f"{r['units_per_pass']} {r['unit']} per pass")
    log(f"# passes: {len(timed)} timed, {len(steps)} steps; error_rate={failed / attempted:.4f} "
        f"({failed}/{attempted})")
    log(f"# step_tail_s = {tail_v:.6g} s: p{tail_p:g}, {beyond} of {len(steps)} samples beyond it"
        + ("" if beyond >= MIN_BEYOND else f" (fewer than {MIN_BEYOND}: context, not a tail)"))
    for name in runs_per_step:
        xs = [s["s"] for p in timed for s in p["steps"] if s["name"] == name]
        log(f"# step {name}: " + " ".join(f"{x:.3f}" for x in xs) + " s")
    for k, v in e2e.items():
        log(f"# {k} = {v:.6g} {E2E_UNITS[k]}")
    if a.trace:
        over = r["traced_run_s"] - r["untraced_run_s"]
        log(f"# tracing overhead: traced run_s {r['traced_run_s']:.3f} s - untraced "
            f"run_s {r['untraced_run_s']:.3f} s = {over:+.3f} s")
        trace_file = os.path.join(WORK, f"trace-{a.workload}-seed{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"per_layer": r["per_layer"], "plan_breakdown": r["plan_breakdown"],
                       "spans": r["spans"]}, f)
        log(f"# trace written to {os.path.relpath(trace_file, ROOT)}")
        for k, v in r["per_layer"].items():
            log(f"# layer {k} = {v:.6g} {layer_unit(k)}")
        metrics = {k: {"value": r["per_layer"][k], "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    correct = (not failed_checks and failed == 0 and r["warmup_failures"] == 0
               and r["capture_failures"] == 0)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def layer_unit(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_read") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("ms_per_roi"):
        return "ms"
    if name.endswith("task_skew") or name.endswith("core_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
