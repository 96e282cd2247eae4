#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the benchmark's own JVM sources (``perfbench/src``) with the
Scala compiler that ships in Spark's jar directory, into
``$CARGO_TARGET_DIR`` (default ``.bench_build``) under the checkout.

The output directory is keyed by a digest of every source file, so an
unchanged tree is compiled once and a changed one never runs stale classes.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: SPARK_HOME must point at a Spark install "
                         "whose jars/ holds scala-compiler")
    return jars


def sources():
    files = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            raise SystemExit("build: missing source tree %s (run from the "
                             "repository root)" % top)
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure():
    """Compile if needed; returns (classpath, source digest, compiled_s)."""
    jars = spark_jars()
    files = sources()
    digest = source_digest(files)
    out = os.path.join(build_dir(), "classes-" + digest)
    cp = os.path.abspath(out) + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, ".ok")):
        return cp, digest, 0.0
    import time
    t0 = time.time()
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    try:
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", tmp, "@" + argfile],
            check=True, stdout=sys.stderr)
    except subprocess.CalledProcessError:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: compilation failed")
    finally:
        os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return cp, digest, time.time() - t0


if __name__ == "__main__":
    print(ensure()[0])
