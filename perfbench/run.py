#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness (perfbench/build.sbt) and caches the classpath under the build
directory ($CARGO_TARGET_DIR, default .bench_build); later runs reuse it
while the sources are unchanged. The input corpus is generated beside it,
in a JVM of its own before the measured one, once per version of
Fixtures.scala, and shared by later runs. Each run gets a fresh directory
under .bench_run/ for its indexes, checkpoints, state, warehouse and
temporary files, runs the JVM there, and removes it afterwards; on failure
the tail of the JVM's log goes to standard error.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics with --trace 1. The line before
it is the full record: every workload metric with its unit, the machine
stamp, and the checks that failed. A traced run also writes its
per-operation breakdown to .bench_results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the library's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath():
    """Builds once per source stamp; returns the runtime classpath."""
    build = build_dir()
    os.makedirs(build, exist_ok=True)
    cache = os.path.join(build, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"], stamp
    log = os.path.join(build, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=800).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = [ln for ln in lines if ln.endswith(".jar") or "/classes" in ln.split(":")[0]]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1], stamp


def java(cp, run_root):
    """The JVM command line up to the main class, with every temporary
    file under run_root."""
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={run_root}/tmp",
             f"-Dderby.system.home={run_root}", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp])


def spawn(cmd, run_root, timeout):
    """Runs cmd in run_root, its output in run_root/jvm.log; kills its
    whole process group if it outlives timeout or the runner is stopped."""
    log = os.path.join(run_root, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=run_root, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return rc, log


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(path, d))


def corpus(cp):
    """The input corpus, generated unless this version of Fixtures.scala
    already has one; corpora of earlier versions are removed."""
    with open(os.path.join(HERE, "src", "main", "scala", "graft", "perfbench",
                           "Fixtures.scala"), "rb") as f:
        name = "corpus-" + hashlib.sha256(f.read()).hexdigest()[:16]
    build = build_dir()
    path = os.path.join(build, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    for old in os.listdir(build):
        if old.startswith("corpus-"):
            shutil.rmtree(os.path.join(build, old), ignore_errors=True)
    gen_root = os.path.join(ROOT, ".bench_run", f"corpus-{os.getpid()}")
    fresh_dir(gen_root)
    try:
        rc, log = spawn(java(cp, gen_root) + ["graft.perfbench.GenerateCorpus", path,
                                              os.path.join(gen_root, "local")],
                        gen_root, 800)
        if rc != 0 or not os.path.exists(os.path.join(path, "_DONE")):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"corpus generation exited with {rc}")
    finally:
        shutil.rmtree(gen_root, ignore_errors=True)
    return path


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, cp, corpus_dir, run_root, out, trace_out, cores):
    # java() fixes the heap and touches all of it at start: peak RSS then
    # does not follow the collector's heap-growth decisions from run to run
    cmd = (java(cp, run_root)
           + ["graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--root", run_root, "--out", out,
              "--corpus", corpus_dir,
              "--trace-out", trace_out, "--golden", os.path.join(HERE, "golden.json"),
              "--record-golden", "1" if args.record_golden else "0",
              "--spawn-ms", str(int(time.time() * 1000))])
    return spawn(cmd, run_root, JVM_TIMEOUT_S)


def main():
    # a terminated runner still stops its JVM (spawn's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="write the batch digests of this run to golden.json")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources (src/main/scala/graft) are not here; run from a full checkout")
    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; one of {names}")

    cores = len(os.sched_getaffinity(0))
    load_start = loadavg()
    cp, stamp = classpath()
    corpus_dir = corpus(cp)
    run_root = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".bench_results")
    fresh_dir(run_root)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(run_root, "result.json")
    trace_out = os.path.join(results, f"trace-{args.workload}-seed{args.seed}.json")
    try:
        rc, log = run_jvm(args, cp, corpus_dir, run_root, out, trace_out, cores)
        if rc != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with {rc}")
        with open(log) as f:
            sys.stderr.write("".join(ln for ln in f if ln.startswith("[perfbench]")))
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = res["per_layer"] if args.trace else res["record"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[section]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update({"ops": "count", "failed_frac": "ratio"})
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in sorted(res["record"].items())},
        "per_op_s": res["per_op_s"],
        "checks_failed": res["checks_failed"],
        "stamp": dict(res["stamp"], nproc=cores, loadavg_start=load_start,
                      loadavg_end=loadavg(), git_commit=git_commit(), source_stamp=stamp),
    }
    print(json.dumps(record))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
