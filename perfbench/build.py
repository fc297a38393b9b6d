#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources into one class directory, with the Scala
compiler that ships in the Spark distribution's jars. Nothing is fetched.

The output goes to .bench_build/perfbench under the checkout. A stamp over
every source file skips the build when nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
GRAFT_MAIN = os.path.join(ROOT, "src", "main")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("set SPARK_HOME or put Spark's bin directory on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def _files(top, suffixes, skip=()):
    found = []
    for d, dirs, names in os.walk(top):
        dirs[:] = sorted(x for x in dirs if os.path.join(d, x) not in skip)
        found += [os.path.join(d, n) for n in sorted(names) if n.endswith(suffixes)]
    return found


def sources():
    # graft.testkit needs ScalaCheck, which is a test-time dependency; the
    # benchmark does not use it
    testkit = os.path.join(GRAFT_MAIN, "scala", "graft", "testkit")
    scala = _files(os.path.join(GRAFT_MAIN, "scala"), (".scala",), skip=(testkit,))
    java = _files(os.path.join(GRAFT_MAIN, "java"), (".java",))
    bench = _files(os.path.join(HERE, "src"), (".scala",))
    resources = _files(os.path.join(GRAFT_MAIN, "resources"), ("",))
    return scala, java, bench, resources


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the class directory, compiling first if any source changed."""
    scala, java, bench, resources = sources()
    if not scala:
        raise RuntimeError(f"no graft sources under {GRAFT_MAIN}")
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    want = stamp(scala + java + bench + resources)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return classes
    print(f"perfbench: compiling {len(scala) + len(java) + len(bench)} source files", file=log)
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala + java + bench) + "\n")
    # scalac reads the Java sources for their signatures; javac compiles them
    run = [["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
            "-release", "17", "-d", classes, "@" + argfile]]
    if java:
        run.append(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8", "--release", "17",
                    "-d", classes, "-cp", classpath(classes)] + java)
    for cmd in run:
        subprocess.run(cmd, check=True, stdout=log, stderr=log)
    res_root = os.path.join(GRAFT_MAIN, "resources")
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    print(build())
