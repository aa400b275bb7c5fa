"""Build file of the benchmark.

Compiles the library under test (``src/main/scala`` of the checkout the
benchmark runs in) and the harness (``perfbench/src``) with the Scala
compiler that ships in the Spark distribution's ``jars`` directory, into
jars under ``.bench_build/`` in the checkout. Each jar is named by a
digest of its sources, so a build is reused until a source changes, and
appears only when the compiler succeeds. (Jars, not class directories:
the JVM's class-data-sharing archive that run.py keeps accepts only jars
on the class path.)

    python3 perfbench/build.py        # prints the run classpath

The Spark jars are those of ``$SPARK_HOME/jars``, or else the
``unmanagedBase`` directory the repository's ``build.sbt`` compiles against.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
LIB_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars_dir():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def spark_jars():
    jars_dir = spark_jars_dir()
    if not os.path.isdir(jars_dir):
        raise BuildError(f"no Spark distribution: {jars_dir} is missing")
    return sorted(os.path.join(jars_dir, f) for f in os.listdir(jars_dir)
                  if f.endswith(".jar"))


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(root, paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_into(out, sources, classpath, jars):
    if os.path.isfile(out):
        return
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark distribution has no Scala compiler jars")
    tmp = out[:-len(".jar")] + ".classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(classpath), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.rename(out + ".tmp", out)


def build():
    """Build (or reuse) the library and the harness; return
    (run classpath, library source digest)."""
    lib_sources = scala_sources(LIB_SRC)
    if not lib_sources:
        raise BuildError(f"no library sources under ./{LIB_SRC}: run from "
                         "the root of a checkout")
    harness_sources = scala_sources(HARNESS_SRC)
    if not harness_sources:
        raise BuildError(f"no harness sources under {HARNESS_SRC}")
    jars = spark_jars()
    lib_digest = digest(LIB_SRC, lib_sources)
    lib_out = os.path.abspath(os.path.join(BUILD_DIR,
                                           f"lib-{lib_digest}.jar"))
    compile_into(lib_out, lib_sources, jars, jars)
    bench_out = os.path.abspath(os.path.join(
        BUILD_DIR, f"bench-{digest(HARNESS_SRC, harness_sources, lib_digest)}.jar"))
    compile_into(bench_out, harness_sources, [lib_out] + jars, jars)
    return [bench_out, lib_out] + jars, lib_digest


if __name__ == "__main__":
    try:
        print(":".join(build()[0]))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
