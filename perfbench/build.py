#!/usr/bin/env python3
"""Builds the program and the benchmark harness from source.

Compiles `src/main/scala` (the program) together with `perfbench/src` (the
harness) with the Scala compiler that ships in the Spark jars directory, and
copies `src/main/resources` beside the classes. The output goes to
`.bench_build/classes` under the repository root; a stamp over every input
file skips the compile when nothing changed.

The repository's `build.sbt` stays the one source of the build settings:
the Scala version, the jars directory (its `unmanagedBase`, unless
`$SPARK_HOME` is set) and the JVM's `--add-opens` list are read from it.
sbt itself is not used: it keeps its launcher, dependency cache and server
state under the user's home directory, and a benchmark run may write only
inside its checkout.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def sbt_settings():
    """(Scala version, Spark jars directory, JVM --add-opens arguments) as
    the repository's build.sbt sets them."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        sys.exit("perfbench: no build.sbt; run from a full checkout of the repository")
    text = open(path).read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    opens = re.search(r'val jdk17AddOpens\s*=\s*Seq\((.*?)\)\s*\.flatMap', text, re.S)
    if not (version and opens and (jars or os.environ.get("SPARK_HOME"))):
        sys.exit("perfbench: build.sbt no longer sets scalaVersion, unmanagedBase "
                 "and jdk17AddOpens the way build.py reads them")
    jars_dir = (os.path.join(os.environ["SPARK_HOME"], "jars")
                if os.environ.get("SPARK_HOME") else jars.group(1))
    add_opens = [x for p in re.findall(r'"([^"]+)"', opens.group(1))
                 for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return version.group(1), jars_dir, add_opens


def files_under(d, suffix=""):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def build():
    """Returns the classes directory, compiling first when inputs changed."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit("perfbench: no program sources at src/main/scala; "
                 "run from a full checkout of the repository")
    scala_version, jars, _ = sbt_settings()
    compiler = [os.path.join(jars, f"scala-{n}-{scala_version}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        sys.exit(f"perfbench: Scala compiler jars not found: {missing}")
    sources = files_under(PROGRAM_SRC, ".scala") + files_under(BENCH_SRC, ".scala")
    resources = files_under(PROGRAM_RES)
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
