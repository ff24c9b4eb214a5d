#!/usr/bin/env python3
"""Build the benchmark program.

1. Compile the library (src/main/scala) together with the benchmark
   harness (perfbench/src) into one jar, perfbench/.build/perfbench.jar.
   The Scala compiler and the Spark jars come from the Spark distribution
   ($SPARK_HOME/jars, or the one whose bin/ holds `spark-submit` on PATH),
   the same jars the library's own build compiles against.
2. Record a class-data-sharing archive (perfbench/.build/classes.jsa) from
   one short training pass over every workload, so that each benchmark JVM
   maps the library's and Spark's classes instead of loading them anew.

A build is reused while the sources, workloads and jars it was made from
are unchanged.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
STAMP = os.path.join(BUILD, "stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
# A fixed, pre-touched heap: the JVM's resident size then no longer
# depends on when the collector chose to grow the heap, so peak RSS
# measures the heap budget plus what lives outside it.
HEAP = "2g"

# Otherwise every JVM writes a performance-counter file under /tmp.
NO_PERF_FILE = "-XX:-UsePerfData"

# Spark 4 on JDK 17 needs these outside spark-submit (the library's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        sys.exit(f"perfbench: library sources not found at {lib}")
    files = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "workloads.json")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def java(run_dir, archive=True):
    """The JVM command line up to the main class. Scratch files stay in
    run_dir; the class-data archive is used once the build made it."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", NO_PERF_FILE,
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([JAR] + spark_jars())]


def fresh_dir(path):
    """Empty `path` and give it a tmp/ subdirectory for the JVM."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def ensure():
    """Build unless an up-to-date build is present."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    os.makedirs(BUILD, exist_ok=True)
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    compile_jar(files, jars)
    record_archive()
    with open(STAMP, "w") as fh:
        fh.write(want)


def run_logged(cmd, log, what, **kw):
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, **kw).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"perfbench: {what} failed (see {log})")


def compile_jar(files, jars):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    classes = fresh_dir(os.path.join(BUILD, "classes"))
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    run_logged(["java", "-Xss8m", "-Xmx2g", NO_PERF_FILE, "-cp", os.pathsep.join(compiler),
                "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                "-classpath", os.pathsep.join(jars), "@" + args],
               os.path.join(BUILD, "compile.log"), "compile")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                if n.endswith(".class"):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, classes))
    os.rename(JAR + ".tmp", JAR)
    shutil.rmtree(classes)


def record_archive():
    wl = workloads()
    work = fresh_dir(os.path.join(BUILD, "train"))
    queries = [q for w in wl.values() for q in w.get("queries", [])]
    tables = sorted({t for w in wl.values() for t in w.get("tables", [])})
    cmd = java(work, archive=False) + [
        f"-XX:ArchiveClassesAtExit={ARCHIVE}", "graft.perfbench.Main", "--train", "1",
        "--cores", str(len(os.sched_getaffinity(0))), "--data", DATA, "--work", work,
        "--queries", ",".join(queries), "--tables", ",".join(tables)]
    run_logged(cmd, os.path.join(BUILD, "train.log"), "class-data training run", cwd=work)
    shutil.rmtree(work)


if __name__ == "__main__":
    ensure()
    print(f"perfbench: built {JAR}")
