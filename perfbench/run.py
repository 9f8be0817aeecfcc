#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference ETL run and a heavy query mix.

Run from the repository root:

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 10 --trace 0

It compiles the library (src/main/scala) and the harness (perfbench/src)
with the Scala compiler shipped in Spark's jars, generates the benchmark
tables once, runs one JVM on local[4], and prints one JSON result line last.
Builds, tables, logs and scratch output live under .bench_build/ (or
$CARGO_TARGET_DIR). `--record-pins` rewrites perfbench/pins.tsv from the
current library. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_home():
    """$SPARK_HOME, else the install of the first spark-submit on the PATH
    that sits next to a jars directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
WORKLOADS = ("etl_nightly", "query_heavy")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_cp():
    if not os.path.isdir(SPARK_JARS):
        fail("set SPARK_HOME or put spark-submit on the PATH")
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))
    if not jars:
        fail(f"no jars in {SPARK_JARS}")
    return jars


def compile_into(out, srcs, classpath, log):
    """Compiles srcs into out/classes once; the directory name carries the key."""
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    scalac = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar")
              for m in ("compiler", "library", "reflect")]
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}/tmp",
             "-cp", ":".join(scalac),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
             "-d", classes] + srcs, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"compile failed ({log})")
    open(os.path.join(out, "ok"), "w").close()
    return classes


def build():
    lib_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not lib_src:
        fail("no library sources under src/main/scala: run from the repository root")
    bench_src = sources(os.path.join(HERE, "src"))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    jars = spark_cp()
    lib_key = digest(lib_src)
    lib = compile_into(os.path.join(BUILD, f"lib-{lib_key}"), lib_src, jars,
                       os.path.join(BUILD, "lib-compile.log"))
    bench = compile_into(os.path.join(BUILD, f"bench-{digest(bench_src, lib_key)}"), bench_src,
                         [lib] + jars, os.path.join(BUILD, "bench-compile.log"))
    data_key = digest([os.path.join(HERE, "src", "Gen.scala")])
    resources = os.path.join(ROOT, "src", "main", "resources")
    return [bench, lib, resources] + jars, os.path.join(BUILD, f"tables-{data_key}")


def steal_jiffies():
    """CPU time the host gave to other guests, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def jvm(cp, args, log, timeout=RUN_TIMEOUT_S):
    # no hsperfdata file: the JVM would write it under /tmp
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", ":".join(cp), "perfbench.Main"] + args)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=BUILD)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"JVM exited with {rc} ({log})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-pins", action="store_true",
                    help="rewrite perfbench/pins.tsv from the current library")
    a = ap.parse_args()
    if not a.record_pins and not a.workload:
        fail("--workload is required")

    cp, tables = build()
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    if not os.path.exists(os.path.join(tables, "ok")):
        shutil.rmtree(tables, ignore_errors=True)
        work = os.path.join(BUILD, "work", "prepare")
        os.makedirs(work, exist_ok=True)
        jvm(cp, ["--mode", "prepare", "--work", work, "--data", tables],
            os.path.join(logs, "prepare.log"), timeout=600)
        open(os.path.join(tables, "ok"), "w").close()
    pins = os.path.join(HERE, "pins.tsv")

    if a.record_pins:
        work = os.path.join(BUILD, "work", "record")
        os.makedirs(work, exist_ok=True)
        jvm(cp, ["--mode", "record", "--work", work, "--data", tables, "--pins", pins],
            os.path.join(logs, "record.log"), timeout=1200)
        print(f"wrote {pins}")
        return

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    steal0 = steal_jiffies()
    jvm(cp, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
             "--data", tables, "--pins", pins, "--out", out,
             "--launched_ms", str(int(time.time() * 1000))],
        os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.log"))
    steal1 = steal_jiffies()
    with open(out) as f:
        meta, result = [json.loads(line) for line in f.read().splitlines()]
    meta["host_steal_s"] = (steal1 - steal0) / os.sysconf("SC_CLK_TCK")
    print(json.dumps(meta))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
