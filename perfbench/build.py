"""Build file of the benchmark: compiles the program's main sources
(src/main/scala of the checkout) together with the benchmark's runner
(perfbench/src) into one class directory, with the Scala compiler that
ships in the Spark distribution's jars.

The build is skipped when a stamp of every source file's content
matches the last build. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def classpath():
    jars = spark_jars()
    return os.pathsep.join(sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"program sources not found: {os.path.relpath(MAIN_SRC, ROOT)}")
    out = []
    for base in (MAIN_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = classpath()
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return os.pathsep.join([CLASSES, cp])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
           "-d", CLASSES, "-classpath", cp, "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return os.pathsep.join([CLASSES, cp])


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
