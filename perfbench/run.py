#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program from
source together with the harness (sbt, offline); later runs start the
JVM directly. Settings of each workload live in perfbench/workloads.json;
traces are written to perfbench/out/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_sessions", "stream_join", "crawl_dedup")
# the JVM stops itself at its cap; this process kills it a little later
JVM_CAP_S = 165
KILL_AFTER_S = 172
BUILD_CAP_S = 700

# Spark on JDK 17 needs these when not launched through spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the program's and the harness's."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile the program and the harness unless the classpath file is
    newer than every source. Returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file):
        stamp = os.path.getmtime(cp_file)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(cp_file) as f:
                return f.read().strip()
    log("building the program and the harness")
    opts = os.environ.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env = dict(os.environ, SBT_OPTS=opts.strip())
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         # sbt's own global state stays inside the checkout too
         f"-Dsbt.global.base={os.path.join(HERE, 'work', 'sbt-global')}",
         "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=BUILD_CAP_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = -1
    if code != 0 or not os.path.exists(cp_file):
        log("build failed")
        sys.exit(2)
    with open(cp_file) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("the program's sources (src/main/scala, build.sbt) are missing; nothing to run")
        sys.exit(2)
    cp = build()

    work = os.path.join(HERE, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    config = os.path.join(HERE, "workloads.json")
    with open(config) as f:
        heap = json.load(f)["session"]["heap"]
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(work, a.workload),
            "--out", os.path.join(HERE, "out"), "--config", config,
            "--cap-seconds", str(JVM_CAP_S)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=KILL_AFTER_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        code = -1
    lines = [l for l in (out or "").splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for l in lines[:-1] if result is not None else lines:
        print(l)
    if result is None:
        log(f"{a.workload} ended without a result (exit {code}, {time.time() - t0:.0f} s)")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
