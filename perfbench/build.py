"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/scala`) into one class directory.

It calls the Scala compiler that ships with the Spark distribution
(`$SPARK_HOME/jars`, else found from `spark-submit` on the PATH), so
no build tool or network is needed, and it skips the compile when a stamp of every source file
still matches. Output goes under `$CARGO_TARGET_DIR` (default
`.bench_build`) relative to the checkout root.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala"))


class BuildError(Exception):
    pass


def spark_jars():
    """The jars dir of the Spark distribution: $SPARK_HOME, else the first
    `spark-submit` on the PATH that belongs to a full distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    files = sorted(f for d in SOURCE_DIRS
                   for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise BuildError(f"engine sources not found under {SOURCE_DIRS[0]}")
    return files


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench-classes")
    stamp_file = os.path.join(build_dir(), "perfbench-classes.stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    tmp = out + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, *files],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    subprocess.run(["rm", "-rf", out], check=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
