"""Build file of the benchmark's JVM harness.

Compiles graft's sources (``src/main/scala``) together with the harness
(``perfbench/harness/src``) with the Scala compiler that ships in the
Spark distribution, against the same Spark jars build.sbt compiles
against, into ``.bench_build/classes-<hash>``. The hash covers every
input source, so an unchanged tree is built once and a changed one is
rebuilt. Usage (from the repository root):

    python3 perfbench/harness/build.py      # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build():
    """Compile if needed; return the runtime classpath string."""
    jars = spark_jars()
    srcs = sources()
    res = os.path.join(ROOT, "src/main/resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(res, "**/*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    cp = os.pathsep.join([out, res, os.path.join(jars, "*")])
    if os.path.isdir(out):
        return cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    os.rename(tmp, out)
    return cp


if __name__ == "__main__":
    print(build())
