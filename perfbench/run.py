#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (perfbench/build.py), runs one
workload in a fresh JVM, checks its outputs (DuckDB for browser reads and
registry queries; the generator's closed-form counts for the ETL), and
prints one JSON line: correct, attempted, failed (ops that threw or
returned wrong output) and the metrics (end-to-end with --trace 0,
per-layer with --trace 1). Exits 1 when the build fails, the JVM fails,
or any output check fails.

Everything it writes stays under .bench_build/ in the working directory;
--trace 1 leaves spans.jsonl and counters.jsonl in
.bench_build/trace/<workload>-<seed>/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep perfbench/ free of build products

import build  # noqa: E402

WORKLOADS = ("etl_load", "browser_reads")

# Java 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 150


def jvm(classes, work, args, log_path):
    """Runs perfbench.Main; returns its exit code or "timeout"."""
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(os.getcwd()), "*"),
            "perfbench.Main", "--work", work] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def fail(log_path, msg):
    with open(log_path) as fh:
        sys.stderr.write(fh.read()[-6000:])
    sys.exit(f"perfbench: {msg}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)
    base = os.path.join(root, ".bench_build")
    cache = os.path.join(base, "cache")
    work = os.path.join(base, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    # Traced runs read the registry corpus (tools.ScaleGen, seedless).
    # Its own JVM builds it once per checkout under .bench_build/cache
    # and returns at once when it is there.
    if a.trace:
        log_path = os.path.join(base, "run", "corpus.log")
        code = jvm(classes, work, ["--workload", "corpus", "--seed", "0", "--cache", cache],
                   log_path)
        if code != 0:
            fail(log_path, f"corpus generation exited with {code}")

    log_path = os.path.join(base, "run", f"{a.workload}-{a.seed}.log")
    code = jvm(classes, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cache", cache,
        "--tracedir", os.path.join(base, "trace", f"{a.workload}-{a.seed}")], log_path)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(log_path, f"JVM exited with {code}")
    with open(result_path) as fh:
        res = json.load(fh)

    import check  # noqa: E402  (needs duckdb; imported only once the JVM ran)
    failed, problems = res["failed"], list(res["problems"])
    files = res["checks"]
    tmp = os.path.join(work, "tmp")
    if "browser_ops" in files:
        f, p = check.browser(files["browser_ops"], files["browser_tables"], tmp)
        failed, problems = failed + f, problems + p
    if "registry_oracle" in files:
        problems += check.registry(files["registry_oracle"], files["registry_out"],
                                   files["registry_data"], tmp)
    for p in problems:
        sys.stderr.write(f"perfbench: check failed: {p}\n")

    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
