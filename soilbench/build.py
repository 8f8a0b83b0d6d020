"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala`) together with the harness (`soilbench/src`) into
`.bench_build/classes-<hash>` with the Scala compiler that ships in the
Spark distribution's jars. No sbt, no dependency resolution; the class
directory is keyed by a hash of every source file, so an unchanged tree
compiles once and later runs reuse it.

Usage: python3 soilbench/build.py   (from the repository root)
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
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")

# JDK 17 module opens Spark needs outside spark-submit (the list
# org.apache.spark.launcher.JavaModuleOptions injects).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_HOME, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {SPARK_HOME}/jars")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala",
                                           "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources (src/main/scala) not found")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                               recursive=True))
    return engine + harness


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    jars = spark_classpath()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(jars)
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    # keep one class directory: a stale build is never reused
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_command(classes, heap):
    cp = classes + ":" + ":".join(spark_classpath())
    # no perf-data file: the JVM would write it to /tmp, outside the run
    return ["java", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch", *ADD_OPENS, f"-Xms{heap}",
            f"-Xmx{heap}", "-cp", cp]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
