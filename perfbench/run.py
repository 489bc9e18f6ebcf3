#!/usr/bin/env python3
"""Run one graft benchmark workload and print its JSON result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest-csv-large, ingest-fw-small-runs, query-mix (see
perfbench/README.md). The first run in a checkout compiles the program's
sources together with the harness (sbt, offline); later runs reuse that
build. Each run starts one JVM (`graft.perfbench.Main`); all files it writes
stay under perfbench/.work/<workload>/, and the run log of the JVM goes to
standard error.
"""
import argparse
import glob
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("ingest-csv-large", "ingest-fw-small-runs", "query-mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in (PROGRAM_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return max(os.path.getmtime(f) for f in files)


def build():
    """Compile program + harness once per checkout; return the class path."""
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    # -XX:-UsePerfData: the JVMs leave no hsperfdata files in /tmp
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    print("[perfbench] building: " + " ".join(cmd), file=sys.stderr)
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out.stdout[-4000:])
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    lines = [l for l in out.stdout.splitlines() if l.startswith(classes)]
    if out.returncode != 0 or not lines:
        fail(f"build failed (exit {out.returncode})")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"query-mix tables not found under {DATA}")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution (its jars/ directory)")

    cp = build()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work, "--data", DATA]
    # keep Spark's scratch files inside the work dir, and pin the core count
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    result = os.path.join(work, "result.json")
    if not os.path.exists(result):
        fail(f"JVM exited {code} without a result")
    with open(result) as f:
        line = f.read().strip()
    for d in ("in", "out", "out-warm", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
