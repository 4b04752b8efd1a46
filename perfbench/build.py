#!/usr/bin/env python3
"""Build the engine and the benchmark from source into `perfbench/target/`.

    python3 perfbench/build.py

Run from the repository root. It compiles the root build's main sources
(`src/main/scala`, `src/main/java`, `src/main/resources`) together with the
benchmark's (`perfbench/src/main/scala`) with the Scala compiler shipped
among the Spark jars the root `build.sbt` names as `unmanagedBase` (or
`$SPARK_HOME/jars`), then javac, into one classes directory. It runs no
build tool, resolves nothing and writes only under `perfbench/target/`.
A build is skipped while the sources it read are unchanged; it prints the
classpath a benchmark JVM starts with.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
COMPILER_HEAP = "1g"


class BuildError(Exception):
    pass


def sources():
    """Every file under the source trees, sorted."""
    files = []
    for r in SOURCE_DIRS:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_digest(files, jars):
    h = hashlib.sha1()
    for f in [os.path.join(ROOT, "build.sbt")] + files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(jars.encode())
    return h.hexdigest()


def spark_jars():
    """The jar directory the root build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d) and any(f.startswith("scala-compiler-") for f in os.listdir(d)):
            return d
    raise BuildError("no jar directory with a Scala compiler (root build.sbt unmanagedBase, $SPARK_HOME/jars)")


def jdk_tool(name):
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", name)):
        return os.path.join(home, "bin", name)
    java = shutil.which("java")
    if java:
        tool = os.path.join(os.path.dirname(os.path.realpath(java)), name)
        if os.path.exists(tool):
            return tool
    tool = shutil.which(name)
    if not tool:
        raise BuildError(f"no {name} (JAVA_HOME or PATH)")
    return tool


def build(run_child, timeout):
    """Compile if the sources changed and return the runtime classpath;
    `run_child(cmd, timeout)` runs a step and returns its exit code."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(SOURCE_DIRS[0])):
        raise BuildError("the engine's sources (build.sbt, src/main) are not in this checkout")
    jars = spark_jars()
    files = sources()
    digest = source_digest(files, jars)
    classpath = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return classpath
    shutil.rmtree(TARGET, ignore_errors=True)
    os.makedirs(CLASSES)
    scala = [f for f in files if f.endswith(".scala")]
    java = [f for f in files if f.endswith(".java")]
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala + java) + "\n")
    # scalac reads the Java sources for their types; javac then compiles them
    steps = [
        [jdk_tool("java"), f"-Xmx{COMPILER_HEAP}", "-Xss8m", "-XX:-UsePerfData",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp", "-encoding", "UTF-8",
         "-nowarn", "-d", CLASSES, f"@{argfile}"],
    ]
    if java:
        steps.append([jdk_tool("javac"), f"-J-Xmx{COMPILER_HEAP}", "-J-XX:-UsePerfData",
                      "-encoding", "UTF-8", "-nowarn", "-d", CLASSES,
                      "-cp", classpath] + java)
    for cmd in steps:
        rc = run_child(cmd, timeout)
        if rc != 0:
            raise BuildError(f"{os.path.basename(cmd[0])} exited with {rc}")
    for r in SOURCE_DIRS:
        res = os.path.join(r, "resources")
        if os.path.isdir(res):
            shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return classpath


def main():
    def run(cmd, timeout):
        return subprocess.run(cmd, timeout=timeout, stdout=sys.stderr).returncode
    try:
        print(build(run, None))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(3)


if __name__ == "__main__":
    main()
