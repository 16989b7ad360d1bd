#!/usr/bin/env python3
"""Steady-state benchmark entry point.

Usage (from the repository root):
    python3 perfbench/run.py --workload <weather_etl|star_queries|corpus_llm>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build (a content fingerprint decides), packs the
classes into a jar, makes the per-checkout fixtures in a JVM that also dumps
a class-data-sharing archive of the classes it loaded, then starts one plain
`java` process for the run on that jar and archive, so neither sbt start-up
nor class loading from the jar lands in a measurement. The last line of
stdout is the result JSON. Exits non-zero, without a result, when the
engine sources are missing or the build fails.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench.fingerprint")
# class-data-sharing archive of the fixture JVM's classes (CDS needs jars)
CDS = os.path.join(HERE, "target", "perfbench.jsa")
WORK = os.path.join(HERE, ".work")
FIXTURES = os.path.join(WORK, "fixtures")
RUN_TIMEOUT_S = 170
FIXTURE_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return home


def fingerprint():
    """Content hash of everything the build compiles."""
    files = sorted(
        glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(ENGINE_SRC) or not glob.glob(os.path.join(ENGINE_SRC, "graft", "*.scala")):
        sys.exit("perfbench: engine sources not found under src/main/scala")
    fp = fingerprint()
    if os.path.isfile(JAR) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    rc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    os.replace(JAR + ".tmp", JAR)
    # fixtures (and with them the class archive) belong to the build that
    # made them
    shutil.rmtree(FIXTURES, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(fp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--record-expected")
    a = ap.parse_args()

    build()
    if not (os.path.isfile(os.path.join(FIXTURES, "star", "FIXTURE_VERSION"))
            and os.path.isfile(CDS)):
        # made together, so the archive holds the classes of a full
        # fixture generation (Spark SQL, parquet, codegen, the engine)
        shutil.rmtree(FIXTURES, ignore_errors=True)
        if os.path.exists(CDS):
            os.remove(CDS)
        rc = java(["perfbench.Fixture", FIXTURES], stdout=sys.stderr,
                  jvm=["-XX:ArchiveClassesAtExit=" + CDS], timeout=FIXTURE_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(CDS):
            sys.exit(f"perfbench: fixture generation failed (exit {rc})")
    args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", WORK, "--out", os.path.join(HERE, ".out"),
            "--expected", os.path.join(HERE, "expected"), "--fixtures", FIXTURES]
    if a.record_expected:
        args += ["--record-expected", os.path.abspath(a.record_expected)]
    sys.exit(java(args, stdout=None))


# vCPUs a JVM may use (Main gives Spark one task slot per vCPU). On a shared
# 4-vCPU VM, five star_queries runs confined to two vCPUs read op_gmean_s
# 0.74-0.80 s, and the five unconfined runs between them 0.63-0.80 s,
# following the hypervisor's steal (see perfbench/README.md, Host noise).
RUN_CPUS = 2


def pin():
    """Confine the process to the first RUN_CPUS of the CPUs it may use."""
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus[:RUN_CPUS])


def java(args, stdout, jvm=None, timeout=RUN_TIMEOUT_S):
    """Run one JVM on the built jar (with the class archive when there is
    one and no other JVM options are given); Spark's scratch space and
    every temp dir the engine makes stay inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm is None:
        jvm = ["-XX:SharedArchiveFile=" + CDS] if os.path.isfile(CDS) else []
    # JVM warnings go to stderr: the last stdout line is the result
    cmd = ["java", "-Xlog:all=warning:stderr", "-Djava.io.tmpdir=" + tmp] + jvm
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # C1 only: on 4 cores C2 compiles for ~30 CPU-seconds inside a 20 s
    # window, and op times keep falling through it (3.8 s to 2.6 s over
    # seven weather ops), so a faster run also lands further down the JIT
    # slope. Under C1 most compiling is done by the end of the warm-up.
    cmd += ["-XX:TieredStopAtLevel=1", "-Xms3g", "-Xmx3g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", JAR + os.pathsep + os.path.join(spark_home(), "jars", "*")] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, preexec_fn=pin, stdout=stdout,
                            env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {args[0]} exceeded {timeout} s")


if __name__ == "__main__":
    main()
