#!/usr/bin/env python3
"""Benchmark of the graft extraction engine and its operator suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 5 --trace 0

Builds the engine together with the benchmark harness (sbt, offline) into
$CARGO_TARGET_DIR (default .bench_build), generates the workload's inputs
from --seed, runs the workload as a closed loop with one client for
--seconds in one JVM at local[2], checks every output, and prints as its
last stdout line one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Exits non-zero on any wrong output.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402

WORKLOADS = ("extract_resume", "ops_suite")
ENGINE_SRC = os.path.join("src", "main", "scala")
JVM_DEADLINE_S = 170
# C1 only: the full tiered JIT keeps two or more of 4 shared cores busy
# compiling Spark for the whole minute a run lasts; on top of the Spark
# task threads that measures the host's other load more than the engine
JIT_FLAGS = ["-XX:TieredStopAtLevel=1"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx3g")


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest(root):
    """Digest of everything the build compiles, to rebuild only on change."""
    h = hashlib.sha256()
    for top in (os.path.join(root, ENGINE_SRC), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness once per source state; returns classpath."""
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS,
               PERFBENCH_TARGET=os.path.join(build_dir, "sbt-target"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(args, classpath, work, out_json, trace_out, build_dir, deadline):
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData"] + JIT_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_json, "--trace-out", trace_out,
            "--scale", args.scale] + (["--corrupt", args.corrupt] if args.corrupt else []))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(build_dir, "logs", "%s-%d.log" % (args.workload, args.seed))
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM ran out of time; log: " + log_path)
    if rc != 0 or not os.path.exists(out_json):
        with open(log_path) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail("benchmark JVM failed (exit %d); log: %s" % (rc, log_path))
    with open(out_json) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a tiny input set, and one deliberately broken output:
    # a row with wrong content, or (extraction) a doc committed twice
    ap.add_argument("--scale", choices=("full", "small"), default="full")
    ap.add_argument("--corrupt", choices=("spans", "dup"))
    args = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, ENGINE_SRC, "graft")):
        fail("no engine sources under %s: run from the root of a checkout" % ENGINE_SRC)
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out_json = os.path.join(work, "result.json")
        trace_out = os.path.join(build_dir, "traces", "%s-%d.jsonl" % (args.workload, args.seed))
        res = run_jvm(args, classpath, work, out_json, trace_out, build_dir,
                      time.time() + JVM_DEADLINE_S)
        attempted, failed, ties = res["attempted"], res["failed"], 0
        if args.workload == "ops_suite":
            a, f, ties = oracle.check(res["ops_input"], os.path.join(work, "oracle_sql.json"),
                                      res["ops_outputs"], args.seed, args.scale == "small",
                                      args.corrupt is not None)
            attempted += a
            failed += f
    finally:
        shutil.rmtree(work, ignore_errors=True)

    layers = res["layers"]
    layers["error_rate"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
    layers["oracle_round_ties"] = {"value": ties, "unit": "count"}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    # payload MB/s moves with each seed's corpus bytes more than with the
    # engine, so it is reported per layer, next to the layers' own metrics
    source = dict(res["metrics"], **layers) if args.trace else res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail("metrics missing from the run: %s" % ", ".join(missing))
    metrics = {m["name"]: source[m["name"]] for m in wanted}
    host = {k: layers[k]["value"] for k in ("host.nproc", "host.loadavg_1m",
                                                "host.gc_ms", "host.jit_ms")}
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "wall_s": round(time.time() - start, 3)}))
    correct = failed == 0 and attempted >= 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
