#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
in a fresh JVM and prints one JSON result line last.

    python3 perfbench/run.py --workload etl|serve|engine_mix --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The first run compiles the repository's
main sources together with the benchmark (sbt, offline) into perfbench/target;
later runs reuse that build while no source file has changed. Scratch files
go to .bench_work/ and spans of traced runs to .bench_traces/, both in the
checkout. The engine_mix workload reads the sf0.1 tables from
$SPARK_GRAFT_SF_DIR (default ~/testdata/sf0.1, as graft.Bench) and checks
every result against its DuckDB oracle with the repository's
tools/check_oracle.py. Without the repository's sources next to it, it
exits with code 2.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORKLOADS = ("etl", "serve", "engine_mix")
JVM_TIMEOUT_S = 150
RUN_DEADLINE_S = 175
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f) and "/target/" not in f)


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles unless the classpath was written from these exact sources."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                           "compile", "writeClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log("built in %.0f s" % (time.time() - t0))


def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")


def run_jvm(args, work, traces):
    with open(CLASSPATH) as fh:
        cp = ":".join(line.strip() for line in fh if line.strip())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + tmp]
           + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--traces", traces,
              "--sf", sf_dir()])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit("workload did not finish within %d s" % JVM_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit("workload exited with code %d" % proc.returncode)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise SystemExit("workload printed no result")
    return json.loads(lines[-1])


def oracle_check(work, results, seconds_left):
    """Runs tools/check_oracle.py over the warm-up results and their
    oracle_sql.json; returns (attempted, failed). A query it does not
    report as PASS, or that it could not reach in time, failed."""
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    try:
        proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                               sf_dir(), results],
                              cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=max(5.0, seconds_left))
        out = proc.stdout
    except subprocess.TimeoutExpired:
        out = "oracle check did not finish in time"
    passed = set()
    for line in out.splitlines():
        if line.startswith("PASS "):
            passed.add(line.split()[1].rstrip(":"))
        elif line.strip():
            log("oracle: " + line)
    return len(names), sum(1 for n in names if n not in passed)


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this kind of run, if present."""
    path = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the repository's sources (src/main/scala/graft) are not next to perfbench/")
        return 2
    build()
    started = time.time()
    work = os.path.join(os.getcwd(), ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    traces = os.path.join(os.getcwd(), ".bench_traces", "%s-seed%d" % (args.workload, args.seed))
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run_jvm(args, work, traces)
        if args.workload == "engine_mix":
            attempted, failed = oracle_check(work, os.path.join(work, "results"),
                                             RUN_DEADLINE_S - (time.time() - started))
            result["attempted"] += attempted
            result["failed"] += failed
        want = expected_metrics(args.trace == 1)
        if want is not None and sorted(want) != sorted(result["metrics"]):
            missing = sorted(set(want) - set(result["metrics"]))
            extra = sorted(set(result["metrics"]) - set(want))
            log("metrics differ from BENCHMARK.json: missing %s, extra %s" % (missing, extra))
            result["attempted"] += 1
            result["failed"] += 1
        if args.trace == 0 and "ok_frac" in result["metrics"]:
            result["metrics"]["ok_frac"]["value"] = 1.0 - result["failed"] / result["attempted"]
        result["correct"] = result["failed"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
