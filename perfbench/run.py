#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, print one JSON line.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
program and the harness (sbt, offline); later runs reuse the build. The input
tables are the ones in perfbench/data. Everything is written under the build
directory ($CARGO_TARGET_DIR if set, else .bench_build). The last line of
standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics (those of a layer the workload does not
exercise report 0; any other missing metric fails the run). The exit code is
0 only when the output check passed.
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
ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
DATA = os.path.join(HERE, "data")
# Per-layer metrics of layers a workload does not exercise, by name prefix.
NOT_EXERCISED = {
    "corpus_pipeline": ("router.", "connector.", "middleware.", "trace.overhead_history_ms"),
    "router_download": ("staging.", "query.", "suite."),
}
WORKLOADS = tuple(NOT_EXERCISED)
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(src, "graft")):
        sys.exit("[perfbench] no program sources at src/main/scala: run from the repository root")
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = tree_hash([src, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")])
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt, offline)")
    env = dict(os.environ, CARGO_TARGET_DIR=BUILD, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
        "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~/.sbt/repositories")))
    out = os.path.join(BUILD, "build.log")
    with open(out, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in open(out) if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.exit("[perfbench] build failed, see %s" % out)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite the stored output fingerprints of the workload")
    ap.add_argument("--verified", metavar="DIR",
                    help="with --record: graft.Verify dumps the fingerprints must match")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    cp = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", DATA,
           "--work", work, "--spec", os.path.join(HERE, "workloads.json"),
           "--fingerprints", os.path.join(HERE, "fingerprints.json"), "--out", out]
           + (["--record"] if a.record else [])
           + (["--verified", os.path.abspath(a.verified)] if a.verified else []))
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        try:
            rc = run_bounded(cmd, RUN_TIMEOUT_S, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            sys.exit("[perfbench] run timed out, see %s/jvm.log" % work)
    if not os.path.exists(out):
        sys.exit("[perfbench] no result (exit %d), see %s/jvm.log" % (rc, work))
    res = json.load(open(out))
    if res.get("fatal"):
        log("fatal: " + res["fatal"])
    for m in res.get("mismatches", []):
        log("check: " + m)
    if a.record:
        if res.get("fatal") or rc != 0:
            sys.exit("[perfbench] recording failed")
        log("fingerprints recorded")
        return
    got = dict(res["metrics"])
    if res["ready_epoch_ms"] > 0:
        got["setup_s"] = res["ready_epoch_ms"] / 1000.0 - t0
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif a.trace and m["name"].startswith(NOT_EXERCISED[a.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    correct = bool(res["correct"]) and not missing and rc == 0
    if missing:
        log("missing metrics: " + ", ".join(missing))
    print(json.dumps({"correct": correct, "attempted": max(1, int(res["attempted"])),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
