#!/usr/bin/env python3
"""Benchmark runner for the preprocess/ingest pipeline and its query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program together with the benchmark
(sbt, offline) into .bench_build/; later runs reuse that build while the
sources are unchanged. Each run works in its own directory under
.bench_work/, which is removed when the run ends; traces are kept in
.bench_work/traces/. The last line of stdout is the JSON result of the JVM
run (perfbench.Main), re-checked here before it is printed.
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

WORKLOADS = ["preprocess_cold", "preprocess_incremental", "ingest", "query_mix"]
RUN_LIMIT_S = 170          # one run, not counting a build
BUILD_LIMIT_S = 700        # so a first run, build included, ends within 15 min
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp(root, bench):
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(bench, "src", "main")]
    extra = [os.path.join(bench, "build.sbt"),
             os.path.join(bench, "project", "build.properties")]
    paths = list(extra)
    for t in trees:
        for d, _, fs in os.walk(t):
            paths += [os.path.join(d, f) for f in fs]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, bench, build_dir, env):
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp(root, bench)
    classes = os.path.join(build_dir, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    os.makedirs(build_dir, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "Compile/copyResources"]
    print(f"# building: {' '.join(cmd)}", flush=True)
    t0 = time.time()
    # build output goes to stderr: stdout carries only the result
    r = subprocess.run(cmd, cwd=bench, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.isdir(classes):
        die(f"build failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return classes


def valid_result(line, trace):
    try:
        res = json.loads(line)
    except ValueError:
        return None
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int)):
        return None
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    if set(res["metrics"]) != want:
        return None
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die(f"the program's sources (src/main/scala/graft) are not under {root}")
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        die(f"BENCHMARK.json is not under {root}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    classes = build(root, bench, os.path.join(root, ".bench_build"), env)

    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.language=en",
            "-Duser.country=US"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(env['SPARK_HOME'], 'jars', '*')}",
              "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--cores", str(cores),
              "--work", os.path.join(work, "data"),
              "--trace-dir", os.path.join(work_root, "traces")])
    # SPARK_LOCAL_DIRS would override spark.local.dir
    proc = subprocess.Popen(cmd, cwd=work, env=dict(env, SPARK_LOCAL_DIRS=tmp),
                            stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line)
    res = valid_result(lines[-1], args.trace == "1") if lines else None
    if proc.returncode != 0 or res is None:
        die(f"JVM exited {proc.returncode} without a valid result")
    print(lines[-1])
    sys.exit(0)


if __name__ == "__main__":
    main()
