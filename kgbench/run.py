#!/usr/bin/env python3
"""Benchmark of graft's committed KG build (graft.Main).

    python3 kgbench/run.py --workload <incremental_edit|emit_resume>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (kgbench/build.sbt) into kgbench/target and
records the classpath; later runs reuse it while the sources are unchanged.
Each run is one JVM with one local Spark session. The last line of standard
output is one JSON object: correct, attempted, failed, metrics. Full detail
goes to kgbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "kgbench.classpath")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")

WORKLOADS = ("incremental_edit", "emit_resume")
HEAP = "2g"
CODE_CACHE = "240m"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[kgbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over every file the build compiles from."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), ENGINE_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    sbt_tmp = os.path.join(TARGET, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] = (f"{opts} -Dsbt.server.autostart=false "
                       f"-Djava.io.tmpdir={sbt_tmp}").strip()
    print("[kgbench] building engine + harness with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    sys.stderr.write(out.stdout)
    lines = [l.strip() for l in out.stdout.splitlines()
             if l.strip() and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {out.returncode})")
    cp = lines[-1]
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Main.scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from a checkout of the repository")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation with jars/")
    cp = classpath()

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    results = os.path.join(
        RESULTS, f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    # A fully pre-touched fixed heap: first-touch page faults are slow and
    # uneven on a VM, and would otherwise land inside the timed builds.
    # C1 only: in a run's few builds, C2 compiler threads took more CPU than
    # the builds themselves, and an uneven share of it (README.md, "JIT").
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1", f"-XX:ReservedCodeCacheSize={CODE_CACHE}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.KgBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", WORK, "--results", results]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
    if timed_out.is_set():
        fail("benchmark run timed out")
    if code != 0 or result is None:
        fail(f"benchmark run failed (exit {code})")
    json.loads(result)
    print(result)


if __name__ == "__main__":
    main()
