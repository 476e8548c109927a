"""Build file of the benchmark: compiles the engine and the bench harness.

The engine's sources (`src/main/scala`) and the harness's own sources
(`perfbench/src`) are compiled together with the Scala compiler that ships
in the Spark distribution's `jars` directory, into `.bench_build/classes`
under the checkout root. A stamp over every source file's path and bytes
skips the compile when nothing changed, so only the first run in a
checkout pays it.

Usage: `python3 perfbench/build.py` from the checkout root.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "memo",
                                       "MemoEngine.scala")):
        raise BuildError("engine sources not found under src/main/scala")
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if the sources changed since the last build; returns the
    runtime classpath."""
    files = sources()
    stamp = stamp_of(files)
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    print("[perfbench] compiling %d sources" % len(files), file=log, flush=True)
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise BuildError("compile failed (exit %d)" % res.returncode)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("[perfbench] build error: %s" % e, file=sys.stderr)
        sys.exit(2)
