"""Compiles the engine (`src/main`) together with the benchmark's JVM
side (`perfbench/scala`) into `.bench_build/classes` with the Scala
compiler that ships among the Spark jars. Skips the work when no
source is newer than the last successful build.

    python3 perfbench/build.py
"""
import glob
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.ok")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD_SBT = os.path.join(ROOT, "build.sbt")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def jvm_options():
    """The JVM options the repository's own build forks its mains with:
    the `--add-opens` list of build.sbt's `jdk17AddOpens` and the `-D`
    literals of its `javaOptions`, read from build.sbt so the benchmark
    runs the engine configured as `sbt run` does. The heap size is the
    benchmark's own (run.py)."""
    with open(BUILD_SBT) as f:
        sbt = f.read()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    java_opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", sbt, re.S)
    if not opens or not java_opts:
        raise SystemExit("build: build.sbt no longer declares jdk17AddOpens / javaOptions "
                         "in the form build.py reads")
    out = []
    for p in re.findall(r'"([^"]+)"', opens.group(1)):
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    out += re.findall(r'"(-D[^"$]+)"', java_opts.group(1))
    if "--add-opens" not in out:
        raise SystemExit("build: no --add-opens entries found in build.sbt")
    return out


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise SystemExit("build: engine sources not found under src/main/scala")
    newest = max(os.path.getmtime(s) for s in srcs)
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.pathsep.join(jars)] + srcs
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    open(STAMP, "w").close()


if __name__ == "__main__":
    build()
    print(classpath() if "--classpath" in sys.argv else "build: ok")
