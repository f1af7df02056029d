"""The benchmark's build: compile graft's main sources together with the
benchmark's own Scala sources into one class directory.

It uses the Scala compiler that ships in Spark's jar directory, so it needs
no build tool and no network. The output is keyed by a hash of every source
file, so a checkout builds once and a changed source rebuilds.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """Spark's jar directory: under $SPARK_HOME, else next to a
    `spark-submit` on the PATH; the first one holding a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark with a Scala compiler in its jars; "
                     "set SPARK_HOME")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit(f"build: graft's sources are missing ({MAIN_SRC})")
    found = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"),
                             recursive=True))
    found += sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    return found


def classpath():
    """Runtime classpath: compiled classes, graft's resources, Spark."""
    return os.pathsep.join([os.path.join(BUILD, "classes"), MAIN_RES,
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    print(f"build: compiling {len(srcs)} Scala sources", file=log, flush=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", out, "-nowarn",
           "-Ybackend-parallelism", "4", "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    build()
