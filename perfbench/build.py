#!/usr/bin/env python3
"""Build file of the perfbench harness.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) into `.bench_build/perfbench/classes` with the Scala
compiler that ships among the Spark jars the project's `build.sbt` names
(`unmanagedBase`). The build is skipped when a stamp of every source's
digest matches. Run directly to build: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def _build_sbt():
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return f.read()


def spark_jars():
    """The Spark jars directory from build.sbt's `unmanagedBase`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jars directory")
    return m.group(1)


def jvm_options():
    """The `--add-opens` flags build.sbt gives forked JVMs (Spark on JDK 17
    outside spark-submit needs them)."""
    return [opt for pkg in re.findall(r'"(java\.base/[\w.]+)"', _build_sbt())
            for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in files):
        raise SystemExit("no program sources under src/main/scala")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the compiled classes, then the Spark jars."""
    return f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def build():
    """Compile if the sources changed since the last build; returns the
    source digest."""
    files = sources()
    d = digest(files)
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == d:
        return d
    jars = spark_jars()
    scalac = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                                    glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                                    glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    subprocess.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", scalac, "scala.tools.nsc.Main",
                    "-nowarn", "-d", CLASSES, "-cp", os.path.join(jars, "*"), "@" + argfile],
                   check=True)
    with open(stamp, "w") as f:
        f.write(d)
    return d


if __name__ == "__main__":
    print(build())
    sys.exit(0)
