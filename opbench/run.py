#!/usr/bin/env python3
"""Run one workload of the JSONata operator benchmark.

    python3 opbench/run.py --workload smt_records --seed 1 --seconds 10 --trace 0

Builds the benchmark with sbt on first use (or when a source is newer than
the build), then runs it on a fresh JVM. The last line of standard output is
one JSON object: correct, attempted, failed and the metrics. See README.md.
"""
import argparse
import glob
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OPERATOR_SOURCES = [os.path.join(ROOT, "src", "main", "scala", "graft", p)
                    for p in ("jsonata", "connect", "spark")]
WORKLOADS = ("smt_records", "df_interpreted", "df_compiled")
CLASSPATH_FILE = os.path.join(HERE, "target", "opbench.classpath")
OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[opbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def newest_source():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in OPERATOR_SOURCES + [os.path.join(HERE, "src")]:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return max(os.path.getmtime(f) for f in files)


def classpath(jars):
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest_source():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Dopbench.sparkJars={jars}",
           "compile", "export Runtime/fullClasspath"]
    print("[opbench] building: " + " ".join(cmd), file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(r.stdout)
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [d for d in OPERATOR_SOURCES if not os.path.isdir(d)]
    if missing:
        fail("operator sources not found: " + ", ".join(missing))
    cp = classpath(spark_jars())

    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # A fixed 1 GB young generation: the SMT allocates about 1.6 GB/s, and
    # with a smaller one a young collection lands in about one poll in ten,
    # right where batch_p90_ms reads.
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "opbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", OUT]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("run timed out")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if r.returncode != 0 or not result:
        fail(f"run failed (exit {r.returncode})")
    print(result[-1])


if __name__ == "__main__":
    main()
