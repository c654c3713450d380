"""Build file of the benchmark package.

Compiles the graft program (../src/main/scala) together with the benchmark
harness (src/) using the Scala compiler that ships in Spark's jars, into
.build/classes. A digest of every source file is stamped into the output,
so an unchanged tree is not rebuilt.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")


def _spark_jars():
    """$SPARK_HOME/jars, else the jars of the first spark-submit on PATH
    that sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and os.path.isdir(os.path.join(h, "jars")):
            return os.path.join(h, "jars")
    raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")


SPARK_JARS = _spark_jars()
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SOURCES = os.path.join(HERE, "src")


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build():
    """Returns the classes directory, compiling first if any source changed."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit(f"build: no program sources at {PROGRAM_SOURCES}")
    sources = _files(PROGRAM_SOURCES, ".scala") + _files(BENCH_SOURCES, ".scala")
    resources = _files(PROGRAM_RESOURCES) if os.path.isdir(PROGRAM_RESOURCES) else []
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(CLASSES, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return CLASSES

    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath(), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, PROGRAM_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(tmp, ".digest"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
