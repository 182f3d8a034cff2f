#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It builds the engine together with
the harness in perfbench/ (once per source state), generates the seeded
inputs (cached per seed), runs the workload in one JVM, checks every step
output against its oracle, and prints one JSON line with the metrics:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero, without a result line, when the build, the run or any
output check fails.

Workloads (sizes are fixed; the seed varies keys, order and content):
  genomics_release  release tables built, typed, exported, diffed, published
  corpus_curation   dedup (via SQL table functions), LSH clusters, filters,
                    LM scoring and tokenizers over documents
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)

# name -> generator sizes: star = (sf0.01 multiple, replicas) for customer,
# orders and lineitem; docs = (documents, replicas). Every generated row is an
# input row of the workload.
WORKLOADS = {
    "genomics_release": dict(star=(1.0, 2)),
    "corpus_curation": dict(docs=(150, 2)),
}
MODULES = ["io", "types", "clinical", "pipelines", "ops", "publish", "llm", "sql"]
JVM_HEAP = "3g"
SETUPS = 3  # set-ups per run, each from process start; setup_s is their median
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---- build ---------------------------------------------------------------
def source_hash():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state; returns the
    runtime classpath and whether it compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a checkout root")
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("hash") == want:
            return got["classpath"], False
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        # the build must not reach for the network: resolve from local caches
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "perfbench" in l.split(":")[0]]
    if r.returncode != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"hash": want, "classpath": cps[-1]}, f)
    return cps[-1], True


# ---- inputs ----------------------------------------------------------------
def inputs(workload, seed):
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    sizes = WORKLOADS[workload]
    key = "-".join([workload, version] + [f"{k}{v[0]}x{v[1]}" for k, v in sizes.items()])
    data = os.path.join(CACHE, "data", f"{key}-seed{seed}")
    return data, gen.generate(data, seed, **sizes)


def count_rows(data):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(data, "*.parquet", "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# ---- metrics ---------------------------------------------------------------
def end_to_end(run, rows):
    cpu = statistics.median(run["untraced_cpu_s"])
    return {
        "setup_s": (statistics.median(run["setups_s"]), "s"),
        "cpu_s": (cpu, "s"),
        "input_rows_per_cpu_s": (rows / cpu, "1/s"),
        "heap_peak_mb": (max(run["step_heap_mb"]), "MB"),
    }


def per_layer(run, spans, out):
    """Module self times and counters, per traced pass, median over passes."""
    passes = sorted({s["pass"] for s in spans})
    per_pass = []
    for p in passes:
        m = {}
        steps = [s for s in spans if s["pass"] == p and s["phase"] == "step"]
        phases = [s for s in spans if s["pass"] == p and s["phase"] != "step"]
        for mod in MODULES:
            ph = [s for s in phases if s["module"] == mod]
            m[f"{mod}.calls"] = sum(1 for s in steps if s["module"] == mod)
            for phase in ("build", "plan", "exec"):
                m[f"{mod}.{phase}_s"] = sum(s["dur_ns"] for s in ph if s["phase"] == phase) / 1e9
            m[f"{mod}.tasks"] = sum(s["counters"]["tasks"] for s in ph)
            m[f"{mod}.shuffle_bytes"] = sum(s["counters"]["shuffle_write_bytes"] for s in ph)
            m[f"{mod}.spill_bytes"] = sum(s["counters"]["spill_bytes"] for s in ph)

        def step_counter(prefix, key):
            ids = {s["id"] for s in steps if s["name"].startswith(prefix)}
            return sum(s["counters"][key] for s in phases if s["parent"] in ids)

        cand = step_counter("sql:l5p_", "output_records")
        ver = step_counter("sql:l6p_", "output_records")
        m["llm.candidate_pairs"] = cand
        m["llm.verified_pairs"] = ver
        m["llm.pair_yield"] = ver / cand if cand else 0.0
        pub = [s for s in steps if s["module"] == "publish"]
        written = sum(1 for s in pub if step_counter(s["name"], "output_records") > 0)
        m["publish.versions_written"] = written
        m["publish.versions_skipped"] = len(pub) - written
        m["io.bytes_written"] = sum(s["counters"]["output_bytes"] for s in phases
                                    if s["module"] == "io")
        per_pass.append((p, m, phases, steps))

    n_traced = max(len(passes), 1)
    un = run["unattributed"]
    out_m = {k: statistics.median(pm[1][k] for pm in per_pass) for k in per_pass[0][1]}
    tot = {k: sum(s["counters"][k] for pm in per_pass for s in pm[2]) / n_traced + un[k] / n_traced
           for k in un}
    traced_wall = statistics.median(run["traced_wall_s"])
    cores = int(run["cores"])
    out_m.update({
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
        "spark.task_run_s": tot["run_ms"] / 1e3, "spark.task_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.sched_delay_s": tot["sched_delay_ms"] / 1e3, "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.cpu_util": tot["cpu_ns"] / 1e9 / (traced_wall * cores),
        "spark.failed_tasks": tot["failed_tasks"],
        "io.files_written": len(glob.glob(os.path.join(out, "jsonl", "*", "part-*"))),
        "trace.wall_s": traced_wall,
        "trace.untraced_wall_s": statistics.median(run["untraced_wall_s"]),
        "trace.overhead_s": traced_wall - statistics.median(run["untraced_wall_s"]),
        "trace.unattributed_s": statistics.median(
            pm_wall - sum(s["dur_ns"] for s in pm[3]) / 1e9
            for pm, pm_wall in zip(per_pass, run["traced_wall_s"])),
    })
    units = {"calls": "count", "tasks": "count", "shuffle_bytes": "bytes",
             "spill_bytes": "bytes", "candidate_pairs": "count", "verified_pairs": "count",
             "pair_yield": "ratio", "versions_written": "count", "versions_skipped": "count",
             "bytes_written": "bytes", "files_written": "count", "jobs": "count",
             "stages": "count", "failed_tasks": "count", "cpu_util": "ratio"}
    return {k: (v, units.get(k.split(".", 1)[1], "s")) for k, v in out_m.items()}


# ---- JVM ---------------------------------------------------------------------
def jvm(classpath, out, args, deadline):
    """Runs perfbench.Main with output root ``out``; returns its run.json with
    ``setup_s``, the seconds from process start until the session was
    ready."""
    os.makedirs(os.path.join(out, "tmp"))
    # a fixed set of JIT compiler threads, so their CPU time can be told
    # apart from the program's (Main.jitCpuNs)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads", *ADD_OPENS,
           f"-Djava.io.tmpdir={out}/tmp", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main", "--out", out, *args]
    log = os.path.join(out, "jvm.log")
    budget = max(30.0, deadline - time.time())
    with open(log, "w") as lf:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=out)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {budget:.0f}s; log: {log}")
    if rc != 0:
        with open(log) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        fail(f"JVM exited with {rc}")
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    run["setup_s"] = run["ready_epoch_s"] - t0
    return run


# ---- main ------------------------------------------------------------------
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    classpath, built = build()
    data, meta = inputs(args.workload, args.seed)
    out = os.path.join(CACHE, "run", args.workload)
    shutil.rmtree(out, ignore_errors=True)

    cores = str(os.cpu_count() or 1)
    main_args = ["--workload", args.workload, "--data", data,
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--cores", cores, "--seed", str(args.seed),
                 "--change-bp", str(meta["release_change_bp"])]
    # a run ends within 175 s, or 880 s when it had to build first
    deadline = t_start + (880.0 if built else 175.0)
    # the set-up is repeated in JVMs that only set up, each timed from
    # process start like the main JVM's; setup_s is the median of all
    setups = []
    for i in range(1, SETUPS):
        setups.append(jvm(classpath, os.path.join(out, f"setup{i}"),
                          main_args + ["--setup-only", "1"], deadline)["setup_s"])
    run = jvm(classpath, out, main_args, deadline)
    setups.append(run["setup_s"])
    run["setups_s"] = setups

    with open(os.path.join(out, "checks.json")) as f:
        checks = json.load(f)
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]

    from oracle import Oracle
    oracle = Oracle(data)
    failed = []
    for c in checks:
        try:
            err = oracle.check(c)
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            failed.append((c["step"], err))
    oracle.save()
    for step, err in failed:
        print(f"perfbench: WRONG OUTPUT {step}: {err}", file=sys.stderr)
    if failed:
        fail(f"{len(failed)} of {len(checks)} step outputs are wrong")

    if args.trace:
        metrics = per_layer(run, spans, out)
    else:
        metrics = end_to_end(run, count_rows(data))
    print(json.dumps({
        "correct": True, "attempted": len(checks), "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
