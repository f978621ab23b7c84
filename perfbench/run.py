#!/usr/bin/env python3
"""Gateway benchmark: builds the program and the benchmark from source, runs
one workload in a fresh JVM and prints its JSON result as the last line.

    python3 perfbench/run.py --workload http-burst --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. The program is compiled with the
repository's own sbt build (`sbt compile`, output in `target/`); the
benchmark sources in `perfbench/src` are compiled against those classes with
the Scala compiler that ships with Spark. Both builds are skipped while the
sources are unchanged. `--inject <fault>` breaks one input of the output
check on purpose (see selftest.sh).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 170
WORKLOADS = ["http-burst", "http-trickle", "stream-microbatch"]

# Spark 4 on JDK 17 outside spark-submit (the same list build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main", "perfbench/src"]:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the repository's build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)


def build():
    for need in ["build.sbt", "src/main/scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found; run from the root of a checkout")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building the program (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g"))
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=ROOT, env=env, check=True, stdout=sys.stderr,
                   stdin=subprocess.DEVNULL, timeout=800)
    log("building the benchmark (scalac)")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    srcs = sorted(os.path.join(HERE, "src", f)
                  for f in os.listdir(os.path.join(HERE, "src")) if f.endswith(".scala"))
    subprocess.run(["java", "-Xmx1g", "-cp", spark_jars() + "/*", "scala.tools.nsc.Main",
                    "-usejavacp", "-deprecation", "-classpath", PROGRAM_CLASSES,
                    "-d", CLASSES] + srcs,
                   check=True, stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=600)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--inject", choices=["tamper-sink", "drop-audit", "perturb-oracle"])
    a = ap.parse_args()

    try:
        build()
    except (subprocess.SubprocessError, OSError) as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ["tmp", "spark-local", "warehouse"]:
        os.makedirs(os.path.join(work, d))
    cmd = ["java", "-Xmx2g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", os.pathsep.join([CLASSES, PROGRAM_CLASSES, spark_jars() + "/*"]),
        "perfbench.GatewayBench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", f"{work}/gateway", "--out", os.path.join(HERE, "out"),
    ]
    if a.inject:
        cmd += ["--inject", a.inject]
    jvm_log = os.path.join(HERE, "out", f"jvm-{a.workload}-{a.seed}.log")
    os.makedirs(os.path.dirname(jvm_log), exist_ok=True)
    try:
        with open(jvm_log, "w") as err:
            p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, text=True,
                               timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S}s; see {jvm_log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.exit(f"perfbench: no result (exit {p.returncode}); see {jvm_log}")
    if p.returncode != 0:
        sys.exit(f"perfbench: JVM exited {p.returncode}; see {jvm_log}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
