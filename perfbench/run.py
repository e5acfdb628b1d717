#!/usr/bin/env python3
"""Repository benchmark: builds the library and the benchmark harness from
source (once per checkout), runs one workload in one JVM and prints the
result as the last line of stdout.

    python3 perfbench/run.py --workload tab_etl --seed 1 --seconds 20 --trace 0

Workloads: tab_etl, curate_chain. With --trace 0 the result
carries the end-to-end metrics, with --trace 1 the per-layer metrics named
in BENCHMARK.json. The full run record (samples, host stamps, span dump,
JVM log) is kept under perfbench/.work/records/.
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
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "bench-classpath.json")
WORKLOADS = ("tab_etl", "curate_chain")
# fixed JVM heap: the same on every run and every commit
HEAP = "3g"
MAX_CORES = 4
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
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


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion; on timeout or on our own termination, kill
    it and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def source_digest():
    """sha256 over every build input: library and benchmark sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile through sbt once per source digest; cache the runtime classpath."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if code is None:
        fail("build timed out")
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def commit_id(digest):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "source-sha256:" + digest[:16]


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated benchmark still stops its child processes (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources not found next to the benchmark; run from a full checkout")
    digest = source_digest()
    classpath = build(digest)

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    records = os.path.join(HERE, ".work", "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(records, exist_ok=True)
    out = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work, "--out", out,
            "--commit", commit_id(digest)]
    # SPARK_LOCAL_DIRS would override the run's private spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    t0 = time.time()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            code, _ = run_child(cmd, JVM_TIMEOUT_S, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        if code is None:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"JVM exited with {code}")
        with open(out) as fh:
            rec = json.load(fh)
        rec["host"]["jvm_wall_s"] = time.time() - t0
        with open(os.path.join(records, f"{tag}.json"), "w") as fh:
            json.dump(rec, fh, indent=1)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(records, f"{tag}-spans.json"))
    finally:
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(records, f"{tag}.log"))
        shutil.rmtree(work, ignore_errors=True)

    metrics = rec["per_layer"] if a.trace else rec["end_to_end"]
    names = declared_metrics(a.trace)
    if names is None:
        names = [n for n in metrics if n != "fail_frac"]
    missing = [n for n in names if not isinstance(metrics.get(n, {}).get("value"), (int, float))]
    if missing:
        fail(f"run did not report {missing}")
    for n, m in sorted(rec["end_to_end"].items()):
        print(f"{a.workload:14s} {n:32s} {m['value']} {m['unit']}")
    s = rec["samples"]
    print(f"{a.workload:14s} samples: {len(s['pass_s'])} untraced passes, "
          f"{len(s['traced_pass_s'])} traced; attempted {rec['attempted']}, failed {rec['failed']}")
    for f in rec["failures"]:
        print(f"{a.workload:14s} FAILED: {f}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"],
                      "metrics": {n: metrics[n] for n in names}}))


if __name__ == "__main__":
    main()
