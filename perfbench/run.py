#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload in
fresh JVMs and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. See perfbench/README.md for the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("rr-pipeline", "contract-sf0.01-c1")
# Set-up is timed in this many JVM launches per run; the median is reported.
# Each launch costs about 8 s; two keep a session of 48 runs under an hour.
SETUP_LAUNCHES = 2
# A run must end within 180 s: a JVM still running after this is killed.
JVM_TIMEOUT_S = 170
JVM_HEAP = "-Xmx3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, as paths relative to the checkout."""
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src/main"]
    out = []
    for top in tops:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def build():
    """Compiles the program and the benchmark unless the sources are
    unchanged since the last build; returns the JVM arguments."""
    digest = hashlib.sha256()
    for rel in sources():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    launch = os.path.join(BENCH, "target", "launch.txt")
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        log("building (sbt compile)")
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            code = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if code != 0:
            with open(os.path.join(BUILD, "build.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"build failed with exit code {code}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        return f.read().split("\n")


def jvm(jvm_args, args, out, setup_only):
    """One benchmark JVM; returns (launch time in ns, its result)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    # No hsperfdata file in the system temp directory: a run writes only
    # inside its checkout.
    cmd = [java, JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + jvm_args + [
        "perfbench.Main", "--root", ROOT, "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out] + (["--setup-only"] if setup_only else [])
    with open(out + ".log", "w") as logf:
        launched = time.time_ns()
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(out + ".log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed: {code}")
    with open(out) as f:
        return launched, json.load(f)


def setup_seconds(launched, result):
    """JVM launch to the first timed call, less the benchmark's own
    preparation (input generation, the contract's warm-up)."""
    return (result["ready_epoch_ns"] - launched - result["excluded_ns"]) / 1e9


def main():
    # A stop request unwinds through jvm(), which then kills the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found: run from the root of a full checkout")
            return 2
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    jvm_args = build()
    out = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    launched, result = jvm(jvm_args, args, out, setup_only=False)
    metrics = result["metrics"]
    if not args.trace:
        setups = [setup_seconds(launched, result)]
        for _ in range(SETUP_LAUNCHES - 1):
            setups.append(setup_seconds(*jvm(jvm_args, args, out + ".setup", setup_only=True)))
        metrics = {"setup_s": {"value": statistics.median(setups), "unit": "s"}, **metrics}
    for e in result["errors"]:
        log(f"failed: {e}")
    if args.trace:
        log(f"spans: {os.path.relpath(out, ROOT)}.spans.json")
    print(json.dumps({
        "correct": result["failed"] == 0 and result["attempted"] > 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
