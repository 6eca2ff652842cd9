#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, one seeded run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine together
with the harness in perfbench/ (sbt, offline) and generates the input
tables (perfbench/gen_data.py); both are cached under .bench_build/ and
rebuilt when their sources change. Each run then starts one JVM
(graft.perfbench.PerfBench) that sets up a session, checks every pipeline's
output against perfbench/expected/<workload>.json, takes one untimed
warm-up pass and times a closed loop of the workload's pipelines for about
--seconds (a pass count fixed per workload; see PerfBench.scala).

The last stdout line is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics of BENCHMARK.json with --trace 0 and its
per-layer metrics with --trace 1.

Development option:
    --record    write the verifying pass's fingerprints as expected
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(BUILD_DIR, "perfbench-target")
CLASSPATH_FILE = os.path.join(TARGET, "classpath.txt")
DATA_DIR = os.path.join(BUILD_DIR, "data", "sf0.1")
EXPECTED_DIR = os.path.join(BENCH_DIR, "expected")
MARKER = "PERFBENCH_RESULT "
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """Hash of the path and content of every file in or under `paths`."""
    h = hashlib.sha256()
    for base in paths:
        found = [base] if os.path.isfile(base) else [
            os.path.join(d, f) for d, _, files in os.walk(base) for f in files]
        for p in sorted(found):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stamped(path, stamp, make):
    """Run `make` unless `path` holds `stamp` from an earlier successful run."""
    if os.path.exists(path) and open(path).read() == stamp:
        return
    make()
    with open(path, "w") as fh:
        fh.write(stamp)


def build():
    engine = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine, "scala")):
        sys.exit(f"engine sources not found under {engine}: run from the root of a checkout")
    stamp = tree_hash([engine, os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "build.sbt"),
                       os.path.join(BENCH_DIR, "project", "build.properties")])

    def sbt():
        log("building engine + harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx3g")
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH_DIR, env=env, stdout=sys.stderr, check=True,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamped(os.path.join(BUILD_DIR, "build.stamp"), stamp, sbt)
    with open(CLASSPATH_FILE) as fh:
        return fh.read().strip()


def data():
    gen = os.path.join(BENCH_DIR, "gen_data.py")
    stamp = hashlib.sha256(open(gen, "rb").read()).hexdigest()

    def generate():
        log("generating input tables")
        shutil.rmtree(DATA_DIR, ignore_errors=True)
        subprocess.run([sys.executable, gen, DATA_DIR], check=True, stdout=sys.stderr)
    os.makedirs(os.path.dirname(DATA_DIR), exist_ok=True)
    stamped(os.path.join(os.path.dirname(DATA_DIR), "data.stamp"), stamp, generate)
    return DATA_DIR


def parse_result(text):
    """The harness's result object from captured stdout.

    Takes the last line carrying the marker, wherever the marker starts:
    runners that prefix forked output (sbt writes `[info] ` before every
    line) or interleave log text still yield the same object."""
    for line in reversed(text.splitlines()):
        at = line.find(MARKER)
        if at >= 0:
            return json.loads(line[at + len(MARKER):])
    raise ValueError("no result line in harness output")


def run_jvm(classpath, args, work):
    heap_gb = max(2, min(4, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 // 2**30))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap_gb}g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.PerfBench"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S} s")
    with open(os.path.join(work, "jvm.log")) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                print(line, end="", file=sys.stderr)
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"harness exited with {proc.returncode}")
    return out


def check_outputs(workload, result):
    """Compare the verifying pass's fingerprints with the recorded ones;
    returns the names of pipelines whose output is wrong, or missing
    without the harness having counted the call as failed already."""
    path = os.path.join(EXPECTED_DIR, f"{workload}.json")
    with open(path) as fh:
        expected = json.load(fh)
    got = result["fingerprints"]
    bad = sorted(n for n in expected
                 if got.get(n) != expected[n] and (n in got or n not in result["errors"]))
    for n in bad:
        log(f"output check failed for {n}: expected {expected[n]!r}, got {got.get(n)!r}")
    return bad


def report(workload, out, wanted, record=False):
    """The final result object from the harness's stdout `out`: outputs
    checked against the expected fingerprints, and the metrics of
    BENCHMARK.json listed in `wanted`."""
    result = parse_result(out)
    if record:
        os.makedirs(EXPECTED_DIR, exist_ok=True)
        with open(os.path.join(EXPECTED_DIR, f"{workload}.json"), "w") as fh:
            json.dump(result["fingerprints"], fh, indent=1, sort_keys=True)
            fh.write("\n")
        log(f"recorded {len(result['fingerprints'])} fingerprints")

    for name, err in result["errors"].items():
        log(f"pipeline {name} failed: {err}")
    bad = check_outputs(workload, result)
    attempted = int(result["attempted"])
    failed = int(result["failed"]) + len(bad)
    info = result["info"]
    log(f"error_rate={failed / attempted:.4f} ({failed}/{attempted}); passes={info['passes']} "
        f"samples={info['samples']} tail_pipeline={info['tail_pipeline']} cores={info['cores']} "
        f"steal_share={info['steal_share']}")

    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            raise ValueError(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath = build()
    data_dir = data()
    work = os.path.join(BUILD_DIR, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data_dir, "--work", work]
        t0 = time.time()
        out = run_jvm(classpath, args, work)
        log(f"harness finished in {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(a.workload, out, wanted, a.record)))


if __name__ == "__main__":
    main()
