#!/usr/bin/env python3
"""Benchmark driver for the graft Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 13 --trace 0

Builds the engine and the harness from source on first use (sbt, into
.bench_build/perfbench), then runs one workload in a fresh JVM at
local[<cores>] with a fixed, pre-touched heap. Every run gets a private
stage root, checkpoint dir and Spark local dir under .bench_build, removed
when the run ends. The metric names and units come from BENCHMARK.json.

Prints one summary line per figure, then, as the last line, one JSON object
with the keys correct, attempted, failed and metrics. Exits non-zero when a
check fails or the run cannot complete.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
HEAP = "4g"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(paths):
    """Content hash of every file under `paths`: names a build."""
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, p).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
            h.update(b"\0")
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compile engine + harness unless the classpath was written for the
    same sources. Returns (classpath, build id)."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    id_file = os.path.join(build_dir, "build_id.txt")
    build_id = source_hash([os.path.join(root, "src", "main", "scala"),
                            os.path.join(BENCH_DIR, "src"),
                            os.path.join(BENCH_DIR, "build.sbt"),
                            os.path.join(BENCH_DIR, "project", "build.properties")])
    if (os.path.exists(cp_file) and os.path.exists(id_file)
            and open(id_file).read().strip() == build_id):
        return open(cp_file).read().strip(), build_id
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, PERFBENCH_BUILD_DIR=build_dir)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "writeClasspath"],
        cwd=BENCH_DIR, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(id_file, "w") as f:
        f.write(build_id)
    print(f"perfbench: built {build_id} in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(cp_file).read().strip(), build_id


def run_jvm(cmd, env, log_path, timeout):
    """Run the harness JVM to completion; kill and reap it on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def compare_with_earlier(checks_dir, key, checks):
    """Outputs of one seed must repeat exactly across runs of one build:
    `checks_dir` is private to the build, so a change to the program that
    changes its outputs starts from a clean record."""
    os.makedirs(checks_dir, exist_ok=True)
    path = os.path.join(checks_dir, key + ".json")
    earlier = json.load(open(path)) if os.path.exists(path) else {}
    diffs = [f"{k} = {v}, an earlier run of this seed gave {earlier[k]}"
             for k, v in sorted(checks.items()) if k in earlier and earlier[k] != v]
    if not diffs:
        with open(path + ".tmp", "w") as f:
            json.dump({**earlier, **checks}, f, sort_keys=True)
        os.replace(path + ".tmp", path)
    return diffs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft not found")
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.join(root, target, "perfbench")
    classpath, build_id = build(root, build_dir)

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(build_dir, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseTransparentHugePages", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--out", out_file]
    env = dict(os.environ, SPARK_GRAFT_STAGE_ROOT=os.path.join(work, "stage"))
    log_path = os.path.join(build_dir, "runs", run_id + ".log")

    t0 = time.time()
    code = run_jvm(cmd, env, log_path, RUN_TIMEOUT_S)
    elapsed = time.time() - t0
    if code != 0 or not os.path.exists(out_file):
        tail = open(log_path, errors="replace").read()[-4000:]
        print(tail, file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"harness JVM {'timed out' if code is None else f'exited {code}'} "
             f"after {elapsed:.1f} s; log: {log_path}")
    res = json.load(open(out_file))
    shutil.rmtree(work, ignore_errors=True)

    failures = list(res["failures"])
    repeat = compare_with_earlier(os.path.join(build_dir, "checks", build_id),
                                  f"{args.workload}-{args.seed}", res["checks"])
    failures += repeat
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + (1 if repeat else 0))

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = res["metrics"]
    metrics = {}
    for m in declared:
        if m["name"] in measured:
            value = measured[m["name"]]
        elif args.trace:
            value = 0.0  # a layer this workload does not run
        else:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    rep = res["report"]
    samples = rep["passes"]
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"trace {args.trace} run {elapsed:.1f} s")
    for name, m in metrics.items():
        n = samples if name == "wall_s" else 1
        print(f"  {name:28s} {m['value']:>14.6g} {m['unit']:6s} n={n}")
    print(f"  {'error_rate':28s} {failed / attempted:>14.6g} {'1':6s} "
          f"n={attempted}  ({failed} failed of {attempted} attempted)")
    for k, v in rep.items():
        print(f"  {k}: {v}")
    for f in failures:
        print(f"  CHECK FAILED: {f}")
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
