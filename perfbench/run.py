#!/usr/bin/env python3
"""Repository benchmark: seeded workloads driven against the graft library.

    python3 perfbench/run.py --workload pipeline_heavy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and
the JVM harness in perfbench/harness with sbt (offline) and caches the
classpath under perfbench/work/build; later runs rebuild only when a
source file changed. Each run then:

1. wipes perfbench/work/run and makes the workload's inputs there from
   the sf0.1 corpus (read-only, at $PERFBENCH_CORPUS, default
   ~/testdata/sf0.1) and from --seed;
2. starts one JVM (local[<cores>], one client thread) that sets up the
   workload several times, warms up untimed (a warm pass, and on
   pipeline_heavy one op pass), then times whole passes over the seeded
   ops until --seconds have passed;
3. checks every op's output (DuckDB oracle, pinned fingerprints, or a
   model of the Delta table) and prints one JSON line last.

With --trace 1 the JVM makes one untraced and one traced pass instead and
the line carries the per-layer metrics derived from the trace, which is
kept in perfbench/work/traces (see summarize.py).
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import summarize
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CORPUS = os.environ.get("PERFBENCH_CORPUS", os.path.expanduser("~/testdata/sf0.1"))
DEADLINE_S = 170  # a run must end within 180 s once the build is done
SETUP_REPS = 3

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, or None when the program is absent."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    singles = [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "harness", "build.sbt"),
               os.path.join(HERE, "harness", "project", "build.properties")]
    if not all(os.path.isdir(r) for r in roots) or not all(map(os.path.isfile, singles)):
        return None
    files = list(singles)
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(files, deadline):
    """Compile the library and the harness from `files`, unless a build of
    the same files is cached; return the runtime classpath."""
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(bdir, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
        "-Dsbt.offline=true -Xmx2g"))
    with open(os.path.join(bdir, "sbt.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=log, text=True, timeout=max(60, deadline - time.time()))
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "target/scala-2.13/classes" in ln]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {os.path.join(bdir, 'sbt.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def make_inputs(workload, dirs):
    """Inputs every set-up copies into its freshly wiped data directory."""
    if not os.path.isdir(CORPUS):
        die(f"sf0.1 corpus not found at {CORPUS} (set PERFBENCH_CORPUS)")
    sf = os.path.join(dirs["inputs"], "sf0.1")
    os.makedirs(sf)
    for t in workloads.CORPUS_TABLES:
        shutil.copyfile(os.path.join(CORPUS, f"{t}.parquet"), os.path.join(sf, f"{t}.parquet"))
    if workload == "interactive_sql":
        workloads.make_interactive_inputs(CORPUS, dirs["inputs"])


def launch(cp, plan_path, result_path, dirs, cores, deadline):
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={dirs['tmp']}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={dirs['tmp']}",
            f"-Dspark.sql.warehouse.dir={dirs['tmp']}/warehouse",
            "-cp", cp, "perfbench.Main", plan_path, result_path]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_GRAFT_MASTER", None)
    with open(os.path.join(dirs["run"], "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=dirs["run"], env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("the JVM ran past the deadline and was stopped")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(dirs["run"], "jvm.log")) as f:
            tail = f.read()[-3000:]
        die(f"the JVM failed (exit {rc}):\n{tail}")


def quantile(xs, q):
    """The q-quantile of xs by linear interpolation between order statistics."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def harrell_davis(xs, q):
    """The Harrell-Davis estimate of the q-quantile of xs: every order
    statistic weighted by the Beta((n+1)q, (n+1)(1-q)) mass over its
    slot. With a few dozen ops of mixed kinds, the plain median jumps
    between the two ops that happen to sit in the middle; this estimate
    moves with all of them."""
    s = sorted(xs)
    n = len(s)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 200 * n  # midpoint rule for the Beta density on [0, 1]
    w = [0.0] * n
    for i in range(steps):
        x = (i + 0.5) / steps
        w[i * n // steps] += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
                                      - log_beta) / steps
    return sum(wi * si for wi, si in zip(w, s)) / sum(w)


def end_to_end(result, gen_s, workload):
    ops = [o for o in result["ops"] if o["kind"] != "kernel"]
    lat = [o["s"] for o in ops]
    m = {
        "setup_s": gen_s + result["launch_s"] + result["prepare_s"]
        + statistics.median(result["setup_reps_s"]) + result["warm_s"],
        "wall_s": statistics.median(result["pass_walls_s"]),
        "op_p50_s": harrell_davis(lat, 0.5),
        "heap_after_gc_mb": result["heap_after_gc_mb"],
    }
    # a p90 needs ten samples beyond it; a pass has fewer than 100 ops,
    # so it is printed for information only
    print(f"[perfbench] {workload}: {len(result['pass_walls_s'])} pass(es), {len(lat)} ops,"
          f" op_p90_s {quantile(lat, 0.9):.4f} from {len(lat)} samples,"
          f" prepare {result['prepare_s']:.2f} s, setup reps"
          f" {['%.2f' % x for x in result['setup_reps_s']]} s, warm {result['warm_s']:.2f} s"
          f" (untimed passes {['%.2f' % x for x in result['warm_pass_walls_s']]} s),"
          f" timed passes {['%.2f' % x for x in result['pass_walls_s']]} s")
    if workload == "interactive_sql":
        for k, v in summarize.delta_figures(result).items():
            print(f"[perfbench] {k} = {v:.4f}")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_heavy", "interactive_sql"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    files = source_files()
    if files is None:
        die("the program's sources (build.sbt, src/main) are not here")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build(files, start + 850)
    t0 = time.time()
    deadline = t0 + DEADLINE_S
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: os.path.join(run, k) for k in ["inputs", "data", "out", "tmp"]}
    dirs["run"] = run
    dirs["corpus"] = CORPUS
    for d in [dirs["data"], dirs["out"], dirs["tmp"]]:
        os.makedirs(d)
    make_inputs(args.workload, dirs)
    rng = random.Random(args.seed)
    plan = getattr(workloads, f"plan_{args.workload}")(rng, dirs)
    cores = len(os.sched_getaffinity(0))
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_path = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
    plan.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "setup_reps": SETUP_REPS,
        "inputs": dirs["inputs"], "data": dirs["data"], "out": dirs["out"],
        "trace_path": trace_path,
    })
    plan_path = os.path.join(run, "plan.json")
    gen_s = time.time() - t0
    plan["launch_epoch_ms"] = time.time() * 1000.0
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    result_path = os.path.join(run, "result.json")
    launch(cp, plan_path, result_path, dirs, cores, deadline)
    jvm_s = time.time() - t0 - gen_s
    with open(result_path) as f:
        result = json.load(f)

    wrong = getattr(workloads, f"check_{args.workload}")(plan, result, dirs)
    print(f"[perfbench] inputs {gen_s:.1f} s, JVM {jvm_s:.1f} s,"
          f" checks {time.time() - t0 - gen_s - jvm_s:.1f} s")
    failed = {i for i, o in enumerate(result["ops"]) if not o["ok"]} | wrong
    for o in result["ops"]:
        if not o["ok"]:
            print(f"[perfbench] {o['kind']} {o['name']} failed: {o['err'][:300]}")
    attempted = len(result["ops"])
    print(f"[perfbench] fail_ratio = {len(failed)}/{attempted}")

    if args.trace:
        values = summarize.derive(summarize.load(trace_path), result)
        specs = spec["per_layer"]
        with open(trace_path[:-len(".jsonl")] + ".result.json", "w") as f:
            json.dump(dict(result, ops=[dict(o, out="") for o in result["ops"]]), f)
    else:
        values = end_to_end(result, gen_s, args.workload)
        specs = spec["end_to_end"]
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
