#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, using the Scala compiler that ships with Spark.

    python3 perfbench/build.py          # prints the class directory

The build directory is $CARGO_TARGET_DIR if set, else .bench_build, both
relative to the repository root. A build is skipped when the sources,
the Spark jars and the JDK are unchanged since the last one.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError("program sources missing: %s" % PROGRAM_SRC)
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_version():
    r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return r.stderr.strip()


def build(log=sys.stderr):
    """Compile if needed; return (class directory, runtime classpath)."""
    srcs = sources()
    jars = spark_jars()
    key = hashlib.sha256()
    key.update(java_version().encode())
    for j in jars:
        key.update(os.path.basename(j).encode())
    for s in srcs:
        key.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            key.update(hashlib.sha256(f.read()).digest())
    key = key.hexdigest()

    bdir = build_dir()
    classes = os.path.join(bdir, "classes")
    stamp = os.path.join(classes, ".stamp")
    runtime_cp = [classes] + ([PROGRAM_RES] if os.path.isdir(PROGRAM_RES) else []) + jars
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes, runtime_cp

    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(bdir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m",
           "-Djava.io.tmpdir=" + bdir, "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print("# building %d sources into %s" % (len(srcs), classes), file=log, flush=True)
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out after %ds" % BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(key)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, runtime_cp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
