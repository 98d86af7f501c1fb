"""Build step of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM harness (perfbench/scala) with the Scala compiler that
ships with Spark, into one classes directory.

The build is skipped when a stamp of every source file, the compiler and
the Spark jar list matches the last build, so only the first run in a
checkout pays for it.

    python3 perfbench/build.py            # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, or else the jars beside the first spark-submit on
    PATH that has them (a pip-installed pyspark may shadow the real one)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark with a Scala compiler in its jars: set SPARK_HOME")


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                            "scala/**/*.scala"), recursive=True))
    return program + harness


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure(root):
    """Return the classes directory and whether it had to be compiled."""
    jars = spark_jars()
    files = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(root, files, jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return classes, False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError("scalac failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes, True


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd())[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
