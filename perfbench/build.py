"""Build file of the benchmark: compiles the engine's sources together with
the harness under `perfbench/src` into one class directory.

The engine's own build (sbt) is not used: it needs a build server and a
warm dependency cache, while the harness needs only `scalac` and the Spark
jars, both of which ship with Spark. A build is cached under
`.bench_build/perfbench/classes-<hash>`, keyed by the content of every
source file and of this file, so an unchanged checkout compiles once.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_ROOT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    # the engine's own build reads its Spark jars from the same place
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        sys.exit("perfbench: run from the root of a checkout (src/main/scala is missing)")
    return files + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files + [__file__]:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", tmp, "-nowarn"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit("perfbench: compile failed")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
