#!/usr/bin/env python3
"""Product benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload agent_small --seed 1 --seconds 12 --trace 0

The first run builds the engine and the harness from the checkout's sources
with sbt (the build is reused while the sources are unchanged), then starts
one JVM that generates the seeded inputs, drives the engine and writes the
full per-metric detail to .bench_build/perfbench/out/. The last line of
standard output is one compact JSON object: correct, attempted, failed and
the metrics BENCHMARK.json declares for the mode (end_to_end with --trace 0,
per_layer with --trace 1).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BUILD_TIMEOUT_S = 660
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx3g",
    "-Dspark.ui.enabled=false",
    "-Dlog4j2.level=error",
] + [
    opt
    for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ]
    for opt in ("--add-opens", pkg + "=ALL-UNNAMED")
]
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, log_path, timeout):
    """Run cmd with output to log_path. Its whole process group is killed and
    waited for on timeout, and when this script is terminated."""
    def stop(proc):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def on_signal(signum, _frame):
            stop(proc)
            sys.exit(128 + signum)

        previous = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            stop(proc)
            for s, handler in previous.items():
                signal.signal(s, handler)


def tail(path, n=40):
    with open(path, "rb") as fh:
        return b"\n".join(fh.read().splitlines()[-n:]).decode(errors="replace")


def classpath(root, build_dir):
    """The harness classpath, rebuilt with sbt when the sources changed."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    log = os.path.join(build_dir, "build.log")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     os.path.join(root, "perfbench"), log, BUILD_TIMEOUT_S)
    if rc != 0:
        die("build failed (rc=%s):\n%s" % (rc, tail(log)), 3)
    with open(log) as fh:
        lines = [l.strip() for l in fh if "perfbench" in l and os.pathsep in l
                 and not l.startswith("[")]
    if not lines:
        die("build printed no classpath:\n" + tail(log), 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for rel in ("BENCHMARK.json", "build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, rel)):
            die("%s not found: run from the root of a checkout" % rel)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die("unknown workload " + args.workload)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    build_dir = os.path.join(root, ".bench_build", "perfbench")
    for sub in ("out", "logs"):
        os.makedirs(os.path.join(build_dir, sub), exist_ok=True)
    cp = classpath(root, build_dir)

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(build_dir, "work", "%s-%d" % (tag, os.getpid()))
    out = os.path.join(build_dir, "out", tag + ".json")
    log = os.path.join(build_dir, "logs", tag + ".log")
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(out):
        os.remove(out)
    try:
        rc = run_bounded(
            ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                   "-cp", cp, "perfbench.Main",
                                   "--workload", args.workload, "--seed", str(args.seed),
                                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                                   "--out", out, "--work", work],
            root, log, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        die("run failed (rc=%s), log %s:\n%s" % (rc, log, tail(log)), 1)

    with open(out) as fh:
        detail = json.load(fh)
    missing = [m["name"] for m in wanted if m["name"] not in detail["metrics"]
               or not math.isfinite(detail["metrics"][m["name"]]["value"])]
    if missing:
        die("metrics missing or not finite in %s: %s" % (out, ", ".join(missing)), 1)
    print("perfbench: detail in " + os.path.relpath(out, root), file=sys.stderr)
    result = {
        "correct": bool(detail["correct"]),
        "attempted": int(detail["attempted"]),
        "failed": int(detail["failed"]),
        "metrics": {m["name"]: {"value": detail["metrics"][m["name"]]["value"],
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
